package graft.ops

import graft.util.Materialize
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`). Brute-force cosine top-k as the correctness baseline;
  * random-hyperplane LSH with OR-amplification (L independent tables of
  * `planes` sign bits each) as the scale path — candidate sets shrink by
  * ~2^planes per table while recall amplifies as 1-(1-p^planes)^L.
  *
  * All math is done in double precision via codegen'd higher-order
  * functions (zip_with / aggregate) — no UDFs.
  */
object Ann {

  /** sum(x*y) over two array<double> columns (native codegen'd kernel). */
  def dot(a: Column, b: Column): Column = call_function("vec_dot", a, b)

  /** Adds `unit`: the L2-normalized double vector (cosine = dot of units). */
  def normalized(embeds: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(embeds.sparkSession)
    embeds.withColumn("unit",
      call_function("vec_normalize", col("embedding").cast("array<double>")))
  }

  /** Per-table sign-bit buckets from deterministic pseudo-random
    * hyperplanes (splitmix64-derived weights - a pure function of
    * (table, plane, dim), identical across executors). Backed by the
    * native [[graft.functions.HyperplaneBuckets]] expression: an equivalent
    * higher-order-function formulation pays interpreted-lambda overhead per
    * (table x plane x dim) evaluation, ~2048 expression evals per row.
    */
  def bucketsExpr(planes: Int, tables: Int): Column =
    call_function("hyperplane_buckets", col("unit"), lit(planes), lit(tables))

  /** Exploded (table_id, bucket) rows per vector — the LSH index shape the
    * candidate joins shuffle on (never the vectors themselves beyond the
    * final candidate scoring).
    */
  def lshIndex(embedsWithUnit: DataFrame, planes: Int, tables: Int): DataFrame = {
    graft.functions.GraftFunctions.register(embedsWithUnit.sparkSession)
    embedsWithUnit
      .withColumn("buckets", bucketsExpr(planes, tables))
      .select(col("*"), posexplode(col("buckets")).as(Seq("table_id", "bucket")))
      .drop("buckets")
  }

  /** Brute-force cosine top-k: probes (small, broadcast) × corpus, ranked
    * per probe. O(|probes| × |corpus|) with no shuffle on the corpus side
    * beyond the final per-probe top-k window.
    */
  def bruteForceTopK(corpus: DataFrame, probes: DataFrame, k: Int): DataFrame =
    // broadcast(p) chosen by Catalyst/AQE
    rerank(corpus, probes, k)((p, c) => p.join(c, col("probe_id") =!= col("nbr_id")))

  /** Exact cosine top-k over the (probe, neighbor) pairs `pairUp` forms
    * from the normalized probes (`probe_id`, `probe_unit`) and corpus
    * (`nbr_id`, `nbr_unit`): per-probe `row_number` by (cosine DESC,
    * nbr_id), ranks ≤ k kept. The shared tail of brute force and of every
    * approximate index (candidates are few, vectors join to them, never
    * to each other).
    */
  private def rerank(corpus: DataFrame, probes: DataFrame, k: Int)(
      pairUp: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val c = normalized(corpus).select(col("vec_id").as("nbr_id"), col("unit").as("nbr_unit"))
    val p = normalized(probes).select(col("vec_id").as("probe_id"), col("unit").as("probe_unit"))
    val w = Window.partitionBy("probe_id").orderBy(col("cosine").desc, col("nbr_id"))
    pairUp(p, c)
      .withColumn("cosine", dot(col("probe_unit"), col("nbr_unit")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("rank").cast("long").as("rank"), col("nbr_id"))
  }

  /** [[rerank]] of an index's (probe_id, nbr_id) matches, self-matches
    * and repeats dropped.
    */
  private def rerankCandidates(matches: DataFrame, corpus: DataFrame,
      probes: DataFrame, k: Int): DataFrame = {
    val candidates = matches
      .filter(col("probe_id") =!= col("nbr_id"))
      .select("probe_id", "nbr_id")
      .distinct()
    rerank(corpus, probes, k)((p, c) => candidates.join(p, "probe_id").join(c, "nbr_id"))
  }

  // ---------------------------------------------------------------- IVF

  /** One assignment pass: nearest (max-dot) centroid per vector. Centroids
    * broadcast (they are a model, bounded by nCentroids × dim).
    *
    * The argmax is a struct-min AGGREGATION, not a per-vector window: the
    * cross join emits nCentroids rows per vector in one task, and the
    * map-side partial min collapses them back to ONE row before the
    * exchange — the r5 window formulation shuffled all nCentroids copies
    * of every unit vector and then sorted them, ×nCentroids the bytes for
    * the same argmax. min(struct(-cdot, cluster, unit)) picks exactly the
    * window's (cdot DESC, cluster ASC) winner for FINITE dots: negation
    * flips the order, the cluster field breaks dot ties
    * deterministically, and unit rides along un-compared (cluster is
    * unique within a vector's rows). One deliberate divergence: a NaN
    * dot (possible only via a NaN centroid — vec_normalize of an exactly
    * zero mean vector) sorts LAST here where the old DESC window sorted
    * it FIRST, i.e. a degenerate centroid no longer captures every
    * vector; the saner behavior, and unreachable on gate data (no zero
    * mean vectors; the oracle regime is the exhaustive sweep besides).
    */
  private def assign(unit: DataFrame, cents: DataFrame): DataFrame =
    unit.crossJoin(broadcast(cents))
      .withColumn("cdot", dot(col("unit"), col("cvec")))
      .groupBy("vec_id")
      .agg(min(struct((-col("cdot")).as("nc"), col("cluster").as("cluster"),
        col("unit").as("unit"))).as("s"))
      .select(col("vec_id"), col("s.unit").as("unit"), col("s.cluster").as("cluster"))

  /** IVF coarse quantizer: spherical k-means (fixed iterations, fully
    * deterministic — init is the lowest vec_ids, ties break on cluster id)
    * trained on a bounded sample. Centroids collect to the driver between
    * iterations (≤ nCentroids × dim doubles — a model, not data), so the
    * plan lineage stays flat. Returns (cluster, cvec) unit centroids.
    */
  def ivfTrain(embeds: DataFrame, nCentroids: Int = 16, iters: Int = 3,
      sampleSize: Int = 100000): DataFrame = {
    val spark = embeds.sparkSession
    val unit = normalized(embeds).select("vec_id", "unit")
    // the first collect below materializes the sample; the returned
    // centroids are driver data, so nothing reads it after the loop
    val train = Materialize.lazily(unit.orderBy("vec_id").limit(sampleSize))
    import spark.implicits._
    def toDf(cs: Array[(Int, Array[Double])]): DataFrame =
      cs.toSeq.toDF("cluster", "cvec")
    try {
      var cents = toDf(
        train.df.orderBy("vec_id").limit(nCentroids).collect()
          .zipWithIndex.map { case (r, i) => (i, r.getSeq[Double](1).toArray) })
      for (_ <- 1 to iters) {
        val assigned = assign(train.df, cents)
        // element-wise mean per cluster (posexplode + agg — the standard
        // Spark centroid update), re-normalized (spherical k-means)
        val next = assigned
          .select(col("cluster"), posexplode(col("unit")).as(Seq("dim", "v")))
          .groupBy("cluster", "dim").agg(avg("v").as("m"))
          .groupBy("cluster")
          .agg(expr("transform(sort_array(collect_list(struct(dim, m))), x -> x.m)").as("mvec"))
          .withColumn("cvec", call_function("vec_normalize", col("mvec")))
          .select("cluster", "cvec")
        cents = toDf(next.collect()
          .map(r => (r.getInt(0), r.getSeq[Double](1).toArray)))
      }
      cents
    } finally train.release()
  }

  /** IVF top-k: assign the corpus to inverted lists once, probe the
    * `nProbes` nearest centroids per query, exact-rerank only those lists.
    * Shuffle carries (vec_id, cluster) pairs; vectors move only into the
    * final bounded candidate join. Recall/cost dial: nProbes/nCentroids.
    */
  def ivfTopK(corpus: DataFrame, probes: DataFrame, k: Int,
      nCentroids: Int = 16, nProbes: Int = 4, iters: Int = 3): DataFrame = {
    val cents = ivfTrain(corpus, nCentroids, iters)
    val cIdx = assign(normalized(corpus).select("vec_id", "unit"), cents)
      .select(col("vec_id").as("nbr_id"), col("cluster"))
    val pw = Window.partitionBy("vec_id").orderBy(col("cdot").desc, col("cluster"))
    val pLists = normalized(probes).select(col("vec_id"), col("unit"))
      .crossJoin(broadcast(cents))
      .withColumn("cdot", dot(col("unit"), col("cvec")))
      .withColumn("r", row_number().over(pw))
      .filter(col("r") <= nProbes)
      .select(col("vec_id").as("probe_id"), col("cluster"))
    rerankCandidates(pLists.join(cIdx, Seq("cluster")), corpus, probes, k)
  }

  /** LSH top-k: candidates = corpus vectors sharing any table bucket with
    * the probe (OR-amplified), deduped, then exact cosine + per-probe top-k.
    */
  def lshTopK(corpus: DataFrame, probes: DataFrame, k: Int,
      planes: Int = 8, tables: Int = 4): DataFrame = {
    val cIdx = lshIndex(normalized(corpus), planes, tables)
      .select(col("vec_id").as("nbr_id"), col("table_id"), col("bucket"))
    val pIdx = lshIndex(normalized(probes), planes, tables)
      .select(col("vec_id").as("probe_id"), col("table_id"), col("bucket"))
    rerankCandidates(pIdx.join(cIdx, Seq("table_id", "bucket")), corpus, probes, k)
  }
}
