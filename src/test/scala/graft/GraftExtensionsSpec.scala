package graft

import org.apache.spark.sql.{AnalysisException, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The SQL surface (`spark.sql.extensions=graft.GraftExtensions`): every
  * injected function must resolve from plain SQL and return EXACTLY what
  * the Scala/Column API returns — same expression class, so same codegen,
  * same results. The shared test session registers the extension through
  * the same `withExtensions` path a production config uses.
  */
class GraftExtensionsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  // The SQL each Column-form test runs; the coverage test below derives the
  // set of exercised graft_* functions from these strings.
  private val extractSql = "SELECT doc_id, graft_extract_spans(spans, meta) AS r FROM ge_raw"
  private val annotatedSql =
    "SELECT bit_xor(xxhash64(doc_id, to_json(graft_extract_spans_annotated(spans, meta)))) FROM ge_raw"
  private val textSketchSql =
    """SELECT doc_id, graft_shingle_hashes(text, 3) AS sh,
      |  graft_minhash_shingles(text, 32, 3).sig AS sig,
      |  graft_rolling_fp(text) AS fp,
      |  graft_minhash_sig(graft_shingle_hashes(text, 3), 32) AS msig FROM ge_docs""".stripMargin
  private val vecSketchSql =
    """SELECT vec_id, graft_l2norm(embedding) AS n, graft_rhp_sig(embedding, 32) AS rs,
      |  graft_rhp_multi_sig(embedding, 200) AS rm FROM ge_vecs""".stripMargin
  private val navSql = "SELECT graft_span_nav(spans) FROM ge_spans LIMIT 1"

  test("graft_extract_spans from pure SQL equals the Column-API extraction") {
    Fixtures.raw(spark).createOrReplaceTempView("ge_raw")
    val sql = spark.sql(extractSql).select(col("doc_id"), col("r"))
    val api = Fixtures.raw(spark).select(col("doc_id"),
      graft.functions.ExtractSpansExpr(col("spans"), col("meta")).as("r"))
    val h = (df: org.apache.spark.sql.DataFrame) =>
      df.selectExpr("bit_xor(xxhash64(doc_id, to_json(r)))").head().getLong(0)
    assert(h(sql) == h(api))
    // annotated form resolves too and differs from the plain form
    val ann = spark.sql(annotatedSql).head().getLong(0)
    assert(ann != h(api))
  }

  test("sketch functions from SQL match their Column forms; nav function resolves") {
    import spark.implicits._
    Seq((1L, "the quick brown fox jumps over the lazy dog again and again"),
        (2L, "completely different content here about shuffles"))
      .toDF("doc_id", "text").createOrReplaceTempView("ge_docs")
    val sql = spark.sql(textSketchSql).collect().map(r => r.getLong(0) -> r).toMap
    val api = spark.table("ge_docs").select(col("doc_id"),
      graft.functions.ShingleHashExpr(col("text"), 3).as("sh"),
      graft.functions.MinHashWithShinglesExpr(col("text"), 32, 3).getField("sig").as("sig"),
      graft.functions.RollingHash64(col("text")).as("fp"),
      graft.functions.MinHashSigExpr(graft.functions.ShingleHashExpr(col("text"), 3), 32).as("msig"))
      .collect().map(r => r.getLong(0) -> r).toMap
    api.foreach { case (id, a) =>
      val s = sql(id)
      assert(s.getSeq[Long](1) == a.getSeq[Long](1))
      assert(s.getSeq[Long](2) == a.getSeq[Long](2))
      assert(s.getLong(3) == a.getLong(3))
      assert(s.getSeq[Long](4) == a.getSeq[Long](4))
      // the signature of the distinct shingle-hash set is the fused form's
      assert(s.getSeq[Long](4) == a.getSeq[Long](2))
    }
    val rnd = new java.util.Random(5)
    spark.createDataFrame(
      spark.sparkContext.parallelize((0L until 4L).map(i => Row(i, Seq.fill(24)(rnd.nextFloat() * 2 - 1)))),
      StructType(Seq(StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType)))))
      .createOrReplaceTempView("ge_vecs")
    val vsql = spark.sql(vecSketchSql).collect().map(r => r.getLong(0) -> r).toMap
    val vapi = spark.table("ge_vecs").select(col("vec_id"),
      graft.functions.L2NormExpr(col("embedding")).as("n"),
      graft.functions.Similarity.rhpSignature(col("embedding"), 32).as("rs"),
      graft.functions.RhpMultiSigExpr(col("embedding"), 200).as("rm"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(vapi.size == 4)
    vapi.foreach { case (id, a) =>
      val s = vsql(id)
      assert(s.getDouble(1) == a.getDouble(1))
      assert(s.getLong(2) == a.getLong(2))
      assert(s.getSeq[Long](3) == a.getSeq[Long](3) && a.getSeq[Long](3).length == 4)
    }
    // span_nav resolves over the extraction output shape
    Fixtures.docs(spark).createOrReplaceTempView("ge_spans")
    assert(spark.sql(navSql).count() == 1L)
  }

  test("every registered graft_* function is exercised from SQL by a test above") {
    val registered = spark.sql("SHOW FUNCTIONS").collect().map(_.getString(0).split('.').last)
      .filter(_.startsWith("graft_")).toSet
    val exercised = Seq(extractSql, annotatedSql, textSketchSql, vecSketchSql, navSql)
      .flatMap("graft_\\w+".r.findAllIn(_)).toSet
    assert(registered == exercised)
  }

  test("non-literal scalar config is rejected with a clear message at resolution") {
    import spark.implicits._
    Seq((1L, "a b c")).toDF("doc_id", "text").createOrReplaceTempView("ge_bad")
    val ex = intercept[Exception] {
      spark.sql("SELECT graft_shingle_hashes(text, CAST(doc_id AS INT)) FROM ge_bad").collect()
    }
    assert(ex.getMessage.contains("integer literal"))
    // wrong-typed data arguments fail analysis (spark.sql alone, no job),
    // not a task with a ClassCastException
    Seq("graft_l2norm(array(3.0D, 4.0D))",
        "graft_rhp_sig(array(3.0D, -4.0D), 8)",
        "graft_rolling_fp(12345)",
        "graft_minhash_shingles(array('a'), 4, 3)").foreach { call =>
      val bad = intercept[AnalysisException](spark.sql(s"SELECT $call"))
      assert(bad.getMessage.contains("UNEXPECTED_INPUT_TYPE"), s"$call: ${bad.getMessage}")
    }
  }

  test("DESCRIBE FUNCTION shows the usage signature (r05 advice: usage was dropped)") {
    val desc = spark.sql("DESCRIBE FUNCTION EXTENDED graft_extract_spans")
      .collect().map(_.getString(0)).mkString("\n")
    assert(desc.contains("graft_extract_spans(spans, meta)"),
      s"usage text missing from DESCRIBE output:\n$desc")
    assert(desc.contains("strips boilerplate"))
    val descSig = spark.sql("DESCRIBE FUNCTION graft_minhash_sig")
      .collect().map(_.getString(0)).mkString("\n")
    assert(descSig.contains("graft_minhash_sig(shingle_hashes, num_hashes)"))
  }
}
