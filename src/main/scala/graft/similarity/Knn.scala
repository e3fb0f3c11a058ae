package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Vector similarity primitives + approximate-nearest-neighbor search over
  * an embedding column (`array<float>` / `array<double>`).
  *
  * All math is `Column` expressions (zip_with/aggregate) in double
  * precision — no UDF, no collect. Brute force is the exactness baseline;
  * the scale path is [[Knn.lshTopK]]: random-hyperplane buckets shrink each
  * probe from |corpus| to |bucket|.
  */
object Knn {

  /** Sequential-order dot product of two array<double> columns.
    * Expression form — fine for one-off projections (e.g. LSH bucketing
    * against a handful of hyperplanes).
    */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  /** Compiled cosine UDF — kept as the reference implementation and for
    * sessions without codegen; same left-to-right summation order as the
    * native expression below (bit-identical results).
    */
  val cosineUdf = udf { (a: Seq[Double], b: Seq[Double]) =>
    val n = math.min(a.length, b.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a(i); val y = b(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Native codegen'd Catalyst expression (graft.functions
    * .ArrayCosineSimilarity) — no UDF serialization boundary; stays inside
    * whole-stage codegen of the enclosing pair loop.
    */
  def cosine(a: Column, b: Column): Column =
    org.apache.spark.sql.graftbridge.column(
      graft.functions.ArrayCosineSimilarity(
        org.apache.spark.sql.graftbridge.expression(a),
        org.apache.spark.sql.graftbridge.expression(b)))

  /** Exact top-k cosine neighbors of each query vector.
    * The (small) query set is broadcast against the corpus — one pass over
    * the corpus per batch of queries, then one shuffle by query id for the
    * per-query top-k window.
    */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int
  ): DataFrame = {
    val c = corpus.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).cast("array<double>").as("qv"))
    val scored = c.join(broadcast(q), col("id") =!= col("query_id"))
      .withColumn("score", cosine(col("v"), col("qv")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("id").as("neighbor_id"), col("score"))
  }

  /** Deterministic pseudo-random hyperplanes: component i of plane j is a
    * hash-derived value in [-1, 1). Baked into the plan as literals — which
    * also means an external engine can replay the exact bucketing from the
    * same constants (SparkEntry renders them into the q26 oracle SQL).
    */
  def hyperplanes(numPlanes: Int, dim: Int, seed: Long = 7L): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(numPlanes, dim)(rnd.nextDouble() * 2 - 1)
  }

  /** Sign-of-projection LSH bucket id (0 .. 2^numPlanes-1) for each vector.
    * All plane projections run in ONE compiled loop per row (the
    * expression form was numPlanes interpreted aggregate/zip_with lambdas
    * per row); the left-to-right summation order matches both the old
    * expression and DuckDB's list_dot_product, so the q26 oracle's replay
    * of the bucketing stays bit-identical.
    */
  def lshBucket(vecCol: Column, numPlanes: Int, dim: Int, seed: Long = 7L): Column = {
    val planes = hyperplanes(numPlanes, dim, seed)
    val bucketUdf = udf { (v: Seq[Double]) =>
      // NULL embedding reaches the UDF as v = null; bucket 0 preserves the
      // old expression form's behavior (NULL dot products fail every
      // when(dot >= 0) test, so no bit was ever set)
      if (v == null) 0L
      else {
      val varr = v.toArray
      var bucket = 0L
      var j = 0
      while (j < planes.length) {
        val p = planes(j)
        val n = math.min(p.length, varr.length)
        var s = 0.0
        var i = 0
        while (i < n) { s += varr(i) * p(i); i += 1 }
        if (s >= 0) bucket |= (1L << j)
        j += 1
      }
      bucket
      }
    }
    bucketUdf(vecCol.cast("array<double>"))
  }

  /** All XOR masks with at most `radius` of the low `numPlanes` bits set —
    * the classic multi-probe LSH perturbation set (probe the query's own
    * bucket plus every bucket within Hamming distance `radius` of it).
    */
  private[graft] def probeMasks(numPlanes: Int, radius: Int): Seq[Long] =
    (0 to radius).flatMap(r =>
      (0 until numPlanes).combinations(r).map(_.foldLeft(0L)((m, i) => m | (1L << i))))

  /** Approximate top-k: only candidates in the query's LSH bucket(s) are
    * scored. Recall/latency trades via numPlanes (more planes = smaller
    * buckets) and `probeRadius` (multi-probe: each query additionally
    * probes every bucket within that Hamming distance of its own —
    * radius 1 multiplies probe cost by numPlanes+1 but recovers most
    * near-neighbors lost to a single flipped hyperplane sign, the main
    * recall failure of single-probe LSH). Only the tiny query side fans
    * out; the corpus is never multiplied, so the scale story is unchanged.
    */
  def lshTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      numPlanes: Int = 8,
      dim: Int = 64,
      seed: Long = 7L,
      probeRadius: Int = 0
  ): DataFrame = {
    val c = corpus.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .withColumn("bucket", lshBucket(col("v"), numPlanes, dim, seed))
    val masks = probeMasks(numPlanes, probeRadius)
    val probe =
      if (masks.size == 1) col("bucket0")
      else explode(array(masks.map(m => col("bucket0").bitwiseXOR(lit(m))): _*))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).cast("array<double>").as("qv"))
      .withColumn("bucket0", lshBucket(col("qv"), numPlanes, dim, seed))
      .withColumn("bucket", probe)
      .drop("bucket0")
    val scored = c.join(broadcast(q), Seq("bucket"))
      .filter(col("id") =!= col("query_id"))
      .withColumn("score", cosine(col("v"), col("qv")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("id").as("neighbor_id"), col("score"))
  }

  /** IVF (inverted-file) approximate top-k: k-means partitions the corpus
    * into nlist cells once (index build); each query probes only its
    * nprobe nearest cells. The scale trade: probe cost drops from |corpus|
    * to nprobe/nlist of it, recall governed by nprobe.
    */
  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nlist: Int = 16,
      nprobe: Int = 4,
      seed: Long = 7L,
      maxIter: Int = 5
  ): DataFrame = {
    val index = buildIvfIndex(corpus, idCol, vecCol, nlist, seed, maxIter)
    ivfTopKPrebuilt(assignCells(corpus, idCol, vecCol, index), index, queries,
      idCol, vecCol, k, nprobe)
  }

  /** The IVF index = the k-means cell centroids, as a persistable
    * DataFrame (cell, centroid). Build it ONCE, write it to parquet next
    * to the corpus, and reuse across query batches — the index build is
    * the expensive step (k-means over the corpus), probing is cheap.
    *
    * `trainFraction < 1` fits the k-means on a deterministic md5-hash
    * sample — the standard trade at corpus scale: centroid quality needs a
    * representative sample, not every vector; assignment still covers the
    * full corpus in one narrow pass.
    */
  def buildIvfIndex(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      nlist: Int = 16,
      seed: Long = 7L,
      maxIter: Int = 5,
      trainFraction: Double = 1.0
  ): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.linalg.Vectors
    val spark = corpus.sparkSession
    val toVec = udf { (a: Seq[Double]) => Vectors.dense(a.toArray) }
    // NULL vectors can't train or be assigned a centroid — drop them at the
    // entry (mirrors lshBucket's explicit NULL handling)
    val base = corpus.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .filter(col("v").isNotNull)
    val train =
      if (trainFraction >= 1.0) base
      else graft.operators.Sampling.deterministic(base, Seq("id"), trainFraction)
    val model = new KMeans().setK(nlist).setSeed(seed).setMaxIter(maxIter)
      .setFeaturesCol("features").setPredictionCol("cell")
      .fit(train.withColumn("features", toVec(col("v"))))
    import spark.implicits._
    model.clusterCenters.map(_.toArray.toSeq).zipWithIndex
      .map { case (ct, i) => (i, ct) }.toSeq
      .toDF("cell", "centroid")
  }

  private def centersOf(index: DataFrame): Array[(Int, Array[Double])] =
    index.select(col("cell"), col("centroid").cast("array<double>"))
      .collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1)

  /** Assign every corpus vector to its nearest index cell — one compiled
    * narrow pass against the broadcast centroid table.
    */
  def assignCells(corpus: DataFrame, idCol: String, vecCol: String, index: DataFrame): DataFrame = {
    val centers = centersOf(index)
    val nearest = udf { (v: Seq[Double]) =>
      // NULL embedding -> sentinel cell -1 (never probed), instead of an
      // NPE killing the whole assignment job
      if (v == null) -1
      else {
      var best = -1; var bestD = Double.MaxValue
      var i = 0
      while (i < centers.length) {
        val ct = centers(i)._2
        var d = 0.0; var j = 0
        val n = math.min(ct.length, v.length)
        while (j < n) { val t = ct(j) - v(j); d += t * t; j += 1 }
        if (d < bestD) { bestD = d; best = centers(i)._1 }
        i += 1
      }
      best
      }
    }
    corpus.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .withColumn("cell", nearest(col("v")))
  }

  /** Probe a prebuilt IVF index: each query fans out to its nprobe nearest
    * cells; only those cells' vectors are scored.
    */
  def ivfTopKPrebuilt(
      cells: DataFrame,
      index: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nprobe: Int
  ): DataFrame = {
    val q = probeCells(queries, idCol, vecCol, index, nprobe)
    val scored = cells.join(broadcast(q), Seq("cell"))
      .filter(col("id") =!= col("query_id"))
      .withColumn("score", cosine(col("v"), col("qv")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("id").as("neighbor_id"), col("score"))
  }

  /** (query_id, qv, cell) — each query fanned out to its `nprobe` nearest
    * index cells. The driver-side centroid table is tiny (nlist × dim);
    * nearest cells per query computed in one compiled pass. NULL query
    * vectors probe nothing (consistent with [[assignCells]]' sentinel
    * cell -1 for NULL corpus vectors — that cell never matches). Shared
    * probe stage of [[ivfTopKPrebuilt]] and [[Pq.ivfPqTopK]].
    */
  def probeCells(
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      index: DataFrame,
      nprobe: Int
  ): DataFrame = {
    val centers = centersOf(index)
    val probeUdf = udf { (q: Seq[Double]) =>
      if (q == null) Seq.empty[Int]
      else centers.map { case (cell, ct) =>
        var d = 0.0; var j = 0
        val n = math.min(ct.length, q.length)
        while (j < n) { val t = ct(j) - q(j); d += t * t; j += 1 }
        (d, cell)
      }.sortBy(_._1).take(nprobe).map(_._2).toSeq
    }
    queries.select(col(idCol).as("query_id"), col(vecCol).cast("array<double>").as("qv"))
      .withColumn("cell", explode(probeUdf(col("qv"))))
  }

  /** Near-duplicate pairs by embedding cosine >= tau, LSH-bucketed so the
    * pair join is per-bucket instead of all-pairs.
    */
  def nearDupPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      tau: Double,
      numPlanes: Int = 8,
      dim: Int = 64,
      seed: Long = 7L,
      maxBucketSize: Int = 5000
  ): DataFrame = {
    val v = df.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .withColumn("bucket", lshBucket(col("v"), numPlanes, dim, seed))
      .withColumn("__bsz", count(lit(1)).over(Window.partitionBy(col("bucket"))))
      .filter(col("__bsz") <= maxBucketSize)
      .drop("__bsz")
    val a = v.select(col("bucket"), col("id").as("id_a"), col("v").as("v_a"))
    val b = v.select(col("bucket"), col("id").as("id_b"), col("v").as("v_b"))
    a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("score", cosine(col("v_a"), col("v_b")))
      .filter(col("score") >= tau)
      .select(col("id_a"), col("id_b"), col("score"))
      .dropDuplicates("id_a", "id_b")
  }

  /** Incremental embedding near-dup pairs: a NEW vector batch against the
    * stored corpus — the embedding twin of
    * [[graft.dedup.MinHashLsh.incrementalBlockedPairs]]. Returns
    * batch-internal pairs plus (batch, stored) cross pairs; stored-stored
    * pairs are excluded by construction, so each ingest pays for its
    * batch, never the corpus.
    *
    * Scale shape mirrors the minhash form: the store is bucket-filtered
    * MAP-SIDE against the broadcast batch bucket set (store vectors outside
    * batch buckets never move), and `maxBucketSize` caps the COMBINED
    * bucket population so one hot bucket can't go |batch|×|store|
    * quadratic. Result equals [[nearDupPairs]] over (batch ∪ store)
    * restricted to batch-touching pairs (spec-asserted).
    *
    * @param broadcastBatch hint the batch bucket set as broadcast (small-
    *   batch contract, as in [[graft.dedup.MinHashLsh]]'s incremental form);
    *   pass false for an oversized batch to fall back to a shuffled semi
    *   join instead of failing on the broadcast limit.
    * @return (id_a, id_b, score) with id_a < id_b; ids must be disjoint
    *   between batch and store.
    */
  def incrementalNearDupPairs(
      batch: DataFrame,
      store: DataFrame,
      idCol: String,
      vecCol: String,
      tau: Double,
      numPlanes: Int = 8,
      dim: Int = 64,
      seed: Long = 7L,
      maxBucketSize: Int = 5000,
      broadcastBatch: Boolean = true
  ): DataFrame = {
    val b = batch.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .withColumn("bucket", lshBucket(col("v"), numPlanes, dim, seed))
      .withColumn("__batch", lit(true))
    val batchBuckets0 = b.select("bucket").distinct()
    val batchBuckets = if (broadcastBatch) broadcast(batchBuckets0) else batchBuckets0
    val s = store.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .withColumn("bucket", lshBucket(col("v"), numPlanes, dim, seed))
      .join(batchBuckets, Seq("bucket"), "left_semi")
      .withColumn("__batch", lit(false))
    // cap by the COMBINED (batch + store) bucket population — identical
    // semantics to nearDupPairs on the union
    val all = b.unionByName(s)
      .withColumn("__bsz", count(lit(1)).over(Window.partitionBy(col("bucket"))))
      .filter(col("__bsz") <= maxBucketSize)
      .drop("__bsz")
    val l = all.filter(col("__batch"))
      .select(col("bucket"), col("id").as("id_a"), col("v").as("v_a"))
    val r = all.select(col("bucket"), col("id").as("id_b"), col("v").as("v_b"),
      col("__batch").as("__batch_b"))
    l.join(r, Seq("bucket"))
      .filter(col("id_a") =!= col("id_b"))
      // batch-batch pairs once (canonical order); batch-store pairs always
      // taken from the batch side, then normalized below
      .filter(!col("__batch_b") || col("id_a") < col("id_b"))
      .withColumn("score", cosine(col("v_a"), col("v_b")))
      .filter(col("score") >= tau)
      .select(
        least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"),
        col("score"))
      .dropDuplicates("id_a", "id_b")
  }
}
