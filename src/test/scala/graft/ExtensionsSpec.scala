package graft

import org.apache.spark.sql.SparkSession

import graft.functions.Kernel

/** End-to-end check of the `spark.sql.extensions` entry point, driven by the
  * [[Kernel]] table: a session built with `graft.GraftExtensions` resolves
  * every kernel by name in plain SQL, and nothing else.
  */
class ExtensionsSpec extends SparkSuite {

  /** A sibling session on the shared SparkContext, built with the
    * extensions. `spark.sql.extensions` is a static conf — honored only when
    * the SparkContext is created — so `withExtensions` is the equivalent
    * supported path for an existing context and exercises the same class.
    */
  private lazy val extSession: SparkSession = {
    spark.sparkContext
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try SparkSession.builder().withExtensions(new GraftExtensions).getOrCreate()
    finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }

  /** One wrong-typed call per kernel: without `checkInputDataTypes` these
    * would pass analysis and read garbage through ArrayData accessors.
    */
  private val wrongTyped = Map(
    "fvec_dot" -> "fvec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D))", // double, not float
    "fvec_norm" -> "fvec_norm('nope')",
    "bvec_dot" -> "bvec_dot(array(1, 2), array(3, 4))", // int, not tinyint
    "dvec_dot" -> "dvec_dot(array(CAST(1 AS FLOAT)), array(CAST(2 AS FLOAT)))",
    "lsh_abuckets" -> "lsh_abuckets(array(1.0D), CAST(4 AS BIGINT), 10, 16)",
    "lsh_afliporder" -> "lsh_afliporder('x', CAST(4 AS BIGINT), 0, 10, 16)",
    "lsh_aprobeseq" -> "lsh_aprobeseq(array(CAST(1 AS FLOAT)), 'x', 0, 10, 16, 8)",
    "shingle_hash64" -> "shingle_hash64(42)",
    "minhash_bands" -> "minhash_bands(array('a'))",
    "simhash64" -> "simhash64(array(1))",
    "shingle_explode" -> "shingle_explode(7)",
    "trigram_codes" -> "trigram_codes(7)",
    "pair_explode" -> "pair_explode(CAST(7 AS BIGINT), array(1, 2), 5)",
    "bloom_contains" -> "bloom_contains(array(1), CAST(1 AS BIGINT))", // int bits, not bigint
    "zvalue" -> "zvalue('a', 'b')")

  test("GraftExtensions injects the kernel functions into SQL") {
    // exactly the table: every entry, and no function beyond it
    val plain = spark.newSession()
    val injected = extSession.catalog.listFunctions().collect().map(_.name).toSet --
      plain.catalog.listFunctions().collect().map(_.name)
    assert(injected == Kernel.all.map(_.name).toSet)
    Kernel.all.foreach(k => assert(!plain.catalog.functionExists(k.name), k.name))
    val row = extSession.sql(
      """SELECT fvec_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
        |                array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d,
        |       fvec_norm(array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS n,
        |       size(shingle_hash64('a b c d e')) AS n_shingles,
        |       size(minhash_bands(shingle_hash64('a b c d e'))) AS n_bands,
        |       simhash64('a b c') AS sh,
        |       bvec_dot(array(CAST(2 AS TINYINT), CAST(-3 AS TINYINT)),
        |                array(CAST(4 AS TINYINT), CAST(5 AS TINYINT))) AS bd,
        |       zvalue(CAST(1 AS BIGINT), CAST(1 AS BIGINT)) AS z
        |""".stripMargin).head()
    assert(row.getDouble(0) == 11.0)
    assert(row.getDouble(1) == 5.0)
    assert(row.getInt(2) == 3)   // 5 words → 3 trigram shingles
    assert(row.getInt(3) == 8)   // 8 LSH bands
    assert(row.getLong(4) != 0L)
    assert(row.getLong(5) == -7L)  // 2*4 + (-3)*5
    assert(row.getLong(6) == 3L)   // bit 0 of a → 0, bit 0 of b → 1
  }

  test("kernel functions reject wrong-typed SQL inputs at analysis time") {
    assert(wrongTyped.keySet == Kernel.all.map(_.name).toSet,
      "every kernel in the table needs a wrong-typed call here")
    Kernel.all.foreach { k =>
      val sql = s"SELECT ${wrongTyped(k.name)}"
      val e = intercept[org.apache.spark.sql.AnalysisException](
        extSession.sql(sql).collect())
      assert(e.getMessage.toLowerCase.contains("expects") ||
        e.getMessage.contains("DATATYPE_MISMATCH"), s"$sql -> ${e.getMessage}")
    }
    // a plan-constant argument must be an integer literal, not a column
    val e = intercept[Exception](extSession.sql(
      "SELECT lsh_abuckets(array(CAST(1 AS FLOAT)), CAST(4 AS BIGINT), id, 16) " +
        "FROM range(1)").collect())
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("must be an integer literal")),
      messages(e).mkString(" | "))
  }

  test("pair_explode dedupes non-adjacent repeated doc ids") {
    def pairs(listSql: String, cap: Int) = extSession.sql(
      s"""SELECT p.* FROM (SELECT CAST(7 AS BIGINT) AS g) t
         |LATERAL VIEW pair_explode(g, $listSql, $cap) p AS doc_a, doc_b, n_a, n_b
         |""".stripMargin).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3)))
    // collect_list gives no ordering guarantee: ids [5,3,5] must emit the
    // (3,5) pair exactly once, not twice
    val dup = pairs(
      "array(struct(CAST(5 AS BIGINT), 3), struct(CAST(3 AS BIGINT), 2), " +
        "struct(CAST(5 AS BIGINT), 3))", 10)
    assert(dup.toSeq == Seq((3L, 5L, 2, 3)))
    // duplicate inflation must not route a genuinely sub-cap list down the
    // hot-membership path: 4 raw entries over cap=3, but only 2 unique docs
    val inflated = pairs(
      "array(struct(CAST(1 AS BIGINT), 4), struct(CAST(2 AS BIGINT), 5), " +
        "struct(CAST(1 AS BIGINT), 4), struct(CAST(2 AS BIGINT), 5))", 3)
    assert(inflated.toSeq == Seq((1L, 2L, 4, 5)))
    // all-duplicates list collapses below 2 docs → no output at all
    val solo = pairs(
      "array(struct(CAST(9 AS BIGINT), 2), struct(CAST(9 AS BIGINT), 2))", 10)
    assert(solo.isEmpty)
  }

  test("pair_explode with a null group key yields no rows instead of an NPE") {
    def run(cap: Int) = extSession.sql(
      s"""SELECT p.* FROM (SELECT CAST(NULL AS BIGINT) AS g) t
         |LATERAL VIEW pair_explode(g,
         |  array(struct(CAST(1 AS BIGINT), 1), struct(CAST(2 AS BIGINT), 1),
         |        struct(CAST(3 AS BIGINT), 1)), $cap) p AS doc_a, doc_b, n_a, n_b
         |""".stripMargin).collect()
    // hot branch (3 unique docs > cap 2) carries the key in doc_b — a null
    // key must degrade to "no rows", never an executor NPE
    assert(run(2).isEmpty)
    // the sub-cap pair branch never reads the key: pairs still emit
    assert(run(10).length == 3)
  }
}
