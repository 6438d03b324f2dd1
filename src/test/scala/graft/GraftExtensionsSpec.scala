package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

class GraftExtensionsSpec extends AnyFlatSpec with Matchers {

  "GraftExtensions" should "install engine functions via spark.sql.extensions" in {
    // force a genuinely NEW session (fresh function registry — the
    // suite-shared session may already carry ad-hoc registrations),
    // built the deployment way via the extensions config
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    // `.config("spark.sql.extensions", …)` is a STATIC conf — it only
    // takes effect when the SparkContext itself is created (the
    // spark-submit deployment path). Inside a suite that already holds
    // a context, the builder-side withExtensions hook is the correct
    // equivalent.
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("graft-ext-test")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      s.sql("SELECT poly_hash64('abc') AS h").collect()(0).getLong(0) shouldBe
        graft.functions.PolyHash64.hash("abc")
      val sh = s.sql("SELECT word_shingles('a b c d', 3) AS s")
        .collect()(0).getSeq[String](0)
      sh shouldBe Seq("a b c", "b c d")
      // simhash64 ≡ the aggregate twin's signature for a one-token doc:
      // one token votes every bit of xxhash64(token), so the signature
      // IS the token hash
      s.sql("SELECT simhash64('abc') AS h").collect()(0).getLong(0) shouldBe
        s.sql("SELECT xxhash64('abc') AS h").collect()(0).getLong(0)
      // hashed shingles ≡ xxhash64 of the string shingles, in SQL
      val hs = s.sql("SELECT word_shingle_hashes('a b c d', 3) AS h")
        .collect()(0).getSeq[Long](0)
      hs shouldBe s.sql(
          "SELECT transform(word_shingles('a b c d', 3), x -> xxhash64(x)) AS h")
        .collect()(0).getSeq[Long](0)
      // a one-shingle doc's minhash: sig(i) = xxhash64(i, the shingle hash)
      val sig = s.sql("SELECT minhash_sigs(word_shingle_hashes('a b c', 3), 4) AS s")
        .collect()(0).getSeq[Long](0)
      sig shouldBe (0 until 4).map { i =>
        s.sql(s"SELECT xxhash64($i, xxhash64('a b c')) AS h").collect()(0).getLong(0)
      }
    } finally {
      // restore the suite-shared session state exactly (an absent one
      // stays absent) instead of stopping the underlying shared
      // SparkContext
      prevDefault.fold(SparkSession.clearDefaultSession())(SparkSession.setDefaultSession)
      prevActive.fold(SparkSession.clearActiveSession())(SparkSession.setActiveSession)
    }
  }
}
