package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Expression, GetArrayItem, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`). Three paths:
  *
  *  - [[bruteForceTopK]]: exact cosine top-k — the correctness baseline.
  *    The dot product is a `zip_with`+`aggregate` HOF (codegen, no UDF);
  *    the query side is broadcast so the big side never shuffles.
  *  - [[lshTopK]]: random-hyperplane LSH — signatures are the fused
  *    per-row [[RhpMultiSigExpr]]; the search joins only within matching
  *    buckets (multiprobe over bands), so the candidate set is a tiny
  *    fraction of the corpus: bucket join instead of cross product.
  *  - [[ivfTopK]]: inverted-file search — a coarse k-means quantizer
  *    assigns each row to a list, and each query reranks exactly within its
  *    `nProbe` nearest lists.
  */
object Similarity {

  /** aggregate-HOF dot product of two float arrays (cast to double). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def l2Norm(a: Column): Column =
    sqrt(aggregate(transform(a, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, v) => acc + v))

  def cosine(a: Column, b: Column, normA: Column, normB: Column): Column =
    dot(a, b) / greatest(normA * normB, lit(1e-12))

  /** Exact top-k neighbors for each query vector. `queries` and `corpus`
    * both have (vec_id, embedding); queries is expected small → broadcast.
    * Ties break on neighbor id (deterministic). */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"),
      l2Norm(col("embedding")).as("qn"))
    val c = corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"),
      l2Norm(col("embedding")).as("cn"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosine(col("qv"), col("cv"), col("qn"), col("cn")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cosine"), 6).as("cosine"))
  }

  /** Random-hyperplane signature of `bits <= 64` planes as one packed long:
    * word 0 of the fused [[RhpMultiSigExpr]], which for `bits <= 64` is the
    * whole signature. */
  def rhpSignature(embedding: Column, bits: Int): Column =
    ColumnBridge.column(rhpSignature(ColumnBridge.expression(embedding), bits))

  /** Expression form of [[rhpSignature]] (the SQL `graft_rhp_sig`). */
  private[graft] def rhpSignature(embedding: Expression, bits: Int): Expression = {
    require(bits >= 1 && bits <= 64, "rhp_sig supports 1..64 hyperplanes")
    GetArrayItem(RhpMultiSigExpr(embedding, bits), Literal(0))
  }

  /** Band keys of an [[RhpMultiSigExpr]] signature (`array<long>`) — the
    * embedding analog of the SimHash pigeonhole chunks: band b reads
    * `bits/numBands` consecutive bits. No key may straddle a word boundary,
    * so extraction stays one shift + mask per band: a single-word signature
    * (`bits <= 64`) takes any band width, a wider one needs a width that
    * divides 64. Returns an array for posexplode. */
  private[functions] def rhpMultiBandKeys(sig: Column, bits: Int, numBands: Int): Column = {
    require(numBands >= 1 && bits % numBands == 0,
      s"bits=$bits must divide evenly into numBands=$numBands bands")
    val rpb = bits / numBands
    require(rpb <= 64 && (bits <= 64 || 64 % rpb == 0),
      s"band width $rpb must divide the 64-bit word when bits=$bits > 64")
    val mask = if (rpb == 64) -1L else (1L << rpb) - 1
    array((0 until numBands).map { b =>
      val bit = b * rpb
      shiftright(element_at(sig, bit / 64 + 1), bit % 64).bitwiseAND(lit(mask))
    }: _*)
  }

  /** Deterministic coarse k-means quantizer for [[ivfTopK]]: training runs
    * on a deterministic sample — the `trainSampleN` corpus rows with the
    * smallest `xxhash64(vec_id)` (stable under any partitioning or scan
    * order; planned as a per-partition top-N merge, never a full sort) —
    * seeded by the first `nLists` rows of that same ordering, refined by
    * `iters` Lloyd rounds with cosine assignment. Each round is ONE
    * distributed aggregate over the cached sample (assign via the fused
    * [[NearestCentroidsExpr]], per-dimension means via explode + groupBy);
    * only the nLists × dims centroid matrix — the model, a few KB — is ever
    * collected to the driver. This is the 100 TB shape: quantizer quality
    * needs only a bounded sample, while [[ivfTopK]]'s ASSIGNMENT stage stays
    * full-corpus and per-row.
    */
  def trainCentroids(corpus: DataFrame, nLists: Int, iters: Int = 2,
                     trainSampleN: Int = 262144): Array[Array[Float]] = {
    require(trainSampleN >= nLists, s"trainSampleN=$trainSampleN must be >= nLists=$nLists")
    val sample = corpus.select(col("vec_id"), col("embedding"))
      .orderBy(xxhash64(col("vec_id")).asc, col("vec_id").asc)
      .limit(trainSampleN).persist()
    val seedRows = sample.limit(nLists).collect()
    var centroids = seedRows.map(_.getSeq[Float](1).toArray)
    val dims = centroids.headOption.map(_.length).getOrElse(0)
    (1 to iters).foreach { _ =>
      val assigned = sample.select(
        element_at(NearestCentroidsExpr(col("embedding"), centroids, 1), 1).as("list_id"),
        posexplode(col("embedding")).as(Seq("dim", "x")))
      val means = assigned.groupBy(col("list_id"), col("dim"))
        .agg(avg(col("x")).as("m"))
        .collect()
      val next = centroids.map(_.clone())
      means.foreach { r =>
        val l = r.getInt(0); val d = r.getInt(1)
        if (l < next.length && d < dims) next(l)(d) = r.getDouble(2).toFloat
      } // lists with no members keep their previous centroid
      centroids = next
    }
    sample.unpersist()
    centroids
  }

  /** IVF (inverted-file) ANN — the third search path next to [[bruteForceTopK]]
    * (exact baseline) and [[lshTopK]] (hash-bucketed): a coarse quantizer
    * partitions the corpus into `nLists` inverted lists; each query probes
    * its `nProbe` nearest lists and reranks EXACTLY (cosine) within them.
    * Cost per query ≈ nProbe/nLists of the corpus; recall rises with
    * `nProbe`. Plan shape: corpus assigned per-row (fused expression, no
    * shuffle), one join on `list_id` (AQE broadcasts the probed query side
    * when small), norms per-row before the join.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              nLists: Int = 16, nProbe: Int = 4, iters: Int = 2,
              trainSampleN: Int = 262144): DataFrame = {
    val cents = trainCentroids(corpus, nLists, iters, trainSampleN)
    val c = corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"),
      L2NormExpr(col("embedding")).as("cn"),
      element_at(NearestCentroidsExpr(col("embedding"), cents, 1), 1).as("list_id"))
    // posexplode_outer + generated-pos filter: a plain explode's inferred
    // size()/isnotnull filters would sink below the project and re-evaluate
    // NearestCentroidsExpr per reference (the InferFiltersFromGenerate
    // pitfall; SparkExtractSpec asserts the single evaluation it costs on
    // the extraction path)
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        L2NormExpr(col("embedding")).as("qn"),
        NearestCentroidsExpr(col("embedding"), cents, nProbe).as("probes"))
      .select(col("query_id"), col("qv"), col("qn"),
        posexplode_outer(col("probes")).as(Seq("p_idx", "list_id")))
      .where(col("p_idx").isNotNull)
      .drop("p_idx")
    val scored = q.join(c, "list_id")
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosine(col("qv"), col("cv"), col("qn"), col("cn")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cosine"), 6).as("cosine"))
  }

  /** LSH-bucketed ANN: join queries to corpus rows sharing at least one
    * signature band, score only those candidates, keep top-k. Recall rises
    * with `numBands` (multiprobe); cost stays ~bucket-sized.
    *
    * Plan discipline (VERDICT r01 #9): the signature is the fused one-pass
    * expression, and the L2 norm is computed ONCE per row BEFORE the band
    * join — never per candidate pair. */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              bits: Int = 16, numBands: Int = 4): DataFrame = {
    // band join ships (band, id) ONLY — embeddings and norms re-join onto the
    // (small) candidate set afterwards, the d_minhash plan discipline
    def banded(df: DataFrame, idCol: String): DataFrame =
      df.select(col("vec_id").as(idCol), RhpMultiSigExpr(col("embedding"), bits).as("sig"))
        .select(col(idCol),
          posexplode(rhpMultiBandKeys(col("sig"), bits, numBands)).as(Seq("band_idx", "band_key")))
    val cand = banded(queries, "query_id").join(banded(corpus, "neighbor_id"),
        Seq("band_idx", "band_key"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id")).distinct()
    val qf = queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"),
      L2NormExpr(col("embedding")).as("qn"))
    val cf = corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"),
      L2NormExpr(col("embedding")).as("cn"))
    val scored = cand.join(qf, "query_id").join(cf, "neighbor_id")
      .withColumn("cosine", cosine(col("qv"), col("cv"), col("qn"), col("cn")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cosine"), 6).as("cosine"))
  }
}
