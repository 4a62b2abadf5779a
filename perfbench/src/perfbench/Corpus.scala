package perfbench

import graft.corpus.SyntheticCorpus
import graft.model.{RawDoc, RawSpan}
import org.apache.spark.sql.{SaveMode, SparkSession}

/** Seeded corpus builder. The seed only selects a window of generator
  * indices; every document is `SyntheticCorpus.rawDoc(docIdFor(i))`, a pure
  * function of its index, so the same (workload, seed) always names the same
  * documents and the correctness check can regenerate any input from its id.
  *
  * The layouts below are mirrored under "layout" in BENCHMARK.json.
  */
object Corpus {

  /** `regular`: contiguous generator window (the default family mix).
    * `megas`: extra `mega` generator docs (every 997th index) taken from
    * beyond the window. `huge`: documents assembled from consecutive mega
    * docs until each holds more than [[HugeSpans]] spans, so they cross
    * `Extract.runAuto`'s 262,144-span huge-tier threshold. */
  final case class Layout(regular: Int, megas: Int, huge: Int, files: Int,
                          batches: Int, mode: String)

  val HugeSpans = 270000

  val Workloads: Set[String] = Set("extract_web", "pipeline_dedup")

  val Layouts: Map[String, Layout] = Map(
    "extract_web" -> Layout(regular = 20000, megas = 0, huge = 0, files = 16, batches = 4, mode = "expr"),
    "pipeline_dedup" -> Layout(regular = 3000, megas = 0, huge = 0, files = 4, batches = 1, mode = "expr"),
    // not a workload: the table the traced run sweeps the skew-routing layer
    // over, so that all three of runAuto's tiers hold documents
    "skew" -> Layout(regular = 1000, megas = 8, huge = 1, files = 8, batches = 1, mode = "auto"))

  private def mix64(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  /** First generator index of the window; each table name gets its own
    * stream of windows. */
  def windowStart(table: String, seed: Long): Long =
    1L + java.lang.Math.floorMod(mix64(seed ^ SyntheticCorpus.fnv1a64(table)), 800000000L)

  private def firstMegaAfter(i: Long): Long = (i / 997 + 1) * 997

  def docIds(table: String, seed: Long): IndexedSeq[String] = docIds(Layouts(table), table, seed)

  /** Every input doc id of a table, in generation order. */
  def docIds(l: Layout, table: String, seed: Long): IndexedSeq[String] = {
    val start = windowStart(table, seed)
    val regular = (start until start + l.regular).map(SyntheticCorpus.docIdFor)
    val megaStart = firstMegaAfter(start + l.regular)
    val megas = (0 until l.megas).map(k => SyntheticCorpus.docIdFor(megaStart + 997L * k))
    val hugeBase = megaStart + 997L * l.megas
    // huge docs draw from disjoint runs of 64 mega docs: a mega doc holds at
    // least 7,200 spans, so at most 38 of them are needed to pass HugeSpans
    val huge = (0 until l.huge).map(h => f"doc-huge-${hugeBase + 997L * 64 * h}%09d")
    regular ++ megas ++ huge
  }

  /** The raw input of one doc id, regenerated from the id alone. */
  def raw(docId: String): RawDoc =
    if (docId.startsWith("doc-huge-")) assembleHuge(docId)
    else SyntheticCorpus.rawDoc(docId)

  private def assembleHuge(docId: String): RawDoc = {
    var idx = docId.stripPrefix("doc-huge-").toLong
    val spans = Vector.newBuilder[RawSpan]
    var n = 0
    var meta: Map[String, String] = null
    while (n <= HugeSpans) {
      val d = SyntheticCorpus.rawDoc(SyntheticCorpus.docIdFor(idx))
      if (meta == null) meta = d.meta
      d.spans.foreach { s => spans += s.copy(offset = n); n += 1 }
      idx += 997
    }
    RawDoc(docId, spans.result(), meta)
  }

  /** Writes a table of `ids`: `l.files` parquet files, docs dealt
    * round-robin over them, each file sorted by `n_spans` as the repo's
    * corpus writers do (Schemas.rawDocsWithN). Returns the doc count. */
  def build(spark: SparkSession, l: Layout, ids: IndexedSeq[String], path: String): Long = {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, size}
    val byFile = (0 until l.files).map(f => ids.indices.filter(_ % l.files == f).map(ids))
    spark.sparkContext.parallelize(byFile, l.files)
      .flatMap(_.iterator.map(raw)).toDS()
      .withColumn("n_spans", size(col("spans")))
      .sortWithinPartitions("n_spans", "doc_id")
      .write.mode(SaveMode.Overwrite).parquet(path)
    ids.size.toLong
  }

  /** Content fingerprint of a built table: per file (by part number), every
    * row in stored order, hashed over doc_id, n_spans, each span and the
    * sorted meta. Independent of the writer's random file-name suffixes. */
  def fingerprint(spark: SparkSession, path: String): String = {
    import spark.implicits._
    import org.apache.spark.sql.functions.input_file_name
    val rows = spark.read.parquet(path)
      .withColumn("file", input_file_name())
      .as[(String, Seq[RawSpan], Map[String, String], Int, String)]
      .mapPartitions { it =>
        // a partition may pack several small files; number rows per file
        val seen = scala.collection.mutable.Map.empty[String, Int]
        it.map { case (id, spans, meta, n, file) =>
          val i = seen.getOrElse(file, 0)
          seen(file) = i + 1
          val sb = new StringBuilder(id).append('|').append(n)
          spans.foreach(s => sb.append('|').append(s.kind).append('\u0001').append(s.text)
            .append('\u0001').append(s.media_ref).append('\u0001').append(s.offset))
          Option(meta).getOrElse(Map.empty).toSeq.sorted
            .foreach { case (k, v) => sb.append('|').append(k).append('=').append(v) }
          val part = "part-\\d+".r.findFirstIn(file.split('/').last).getOrElse(file)
          (part, i, sha256(sb.toString))
        }
      }.collect().sortBy(r => (r._1, r._2))
    sha256(rows.map(r => s"${r._1}:${r._2}:${r._3}").mkString("\n"))
  }

  def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
}
