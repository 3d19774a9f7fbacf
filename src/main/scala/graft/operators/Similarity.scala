package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (array<float>).
  *
  * Determinism contract: embeddings are quantized to integer micro-units
  * (round(x*1e6)) so dot products and squared norms are EXACT BIGINTs;
  * cosine = dot / (sqrt(na)*sqrt(nb)) then runs on identical integers in
  * any engine → bit-identical doubles → identical rankings.
  *
  * Scale design: the brute-force path broadcasts the (small) query set
  * and scans the corpus once — no shuffle of the corpus. The LSH path
  * buckets by random-hyperplane signature bands so each query only
  * scores its candidate buckets; at 100 TB the bucket join replaces the
  * full scan per query.
  */
object Similarity {

  /** array<float> → exact integer micro-units (array<long>). */
  def quantize(vec: Column): Column =
    transform(vec, x => round(x.cast("double") * 1000000d).cast("long"))

  /** Fused codegen'd dot product (graft.functions.DotProductQ). */
  def dotQ(a: Column, b: Column): Column = graft.functions.VectorFunctions.dotQ(a, b)

  /** Portable HOF formulation — kept as the semantics oracle for the
    * native expression (SimilaritySpec pins bit-equality); not on any
    * hot path (interpreted, allocates per row). */
  def dotQViaHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, x) => acc + x)

  def normQ(a: Column): Column = dotQ(a, a)

  /** Exact cosine between two quantized vectors, as a double. */
  def cosineQ(a: Column, b: Column): Column =
    dotQ(a, b).cast("double") / (sqrt(normQ(a).cast("double")) * sqrt(normQ(b).cast("double")))

  /** Cosine from a pairwise dot and per-vector precomputed squared norms —
    * the pairwise-join form: norms are computed once per VECTOR (narrow,
    * before the join) instead of once per PAIR. Bit-identical to
    * `cosineQ` (same integers, same double ops). */
  private def cosinePre(dot: Column, na: Column, nb: Column): Column =
    dot.cast("double") / (sqrt(na.cast("double")) * sqrt(nb.cast("double")))

  /** (id, v, n): each row's id, quantized vector and exact squared norm. */
  private def quantizedRows(df: DataFrame, id: Column, vecCol: String): DataFrame =
    df.select(id.as("id"), quantize(col(vecCol)).as("v")).withColumn("n", normQ(col("v")))

  /** The final rank of every top-k operator here: candidates
    * (query_id, qv, qn, vec_id, cv, cn) → the k best per query by exact
    * quantized cosine, ties to the lower vec_id. Returns
    * (query_id, rank, vec_id). */
  private def topKByCosine(cands: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id").asc)
    cands.withColumn("cos", cosinePre(dotQ(col("qv"), col("cv")), col("qn"), col("cn")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "vec_id")
  }

  /** Brute-force top-k cosine neighbors for each query id.
    * Returns (query_id, rank, vec_id). The query set is broadcast; the
    * corpus is scanned once (narrow), then one shuffle for the per-query
    * top-k window. */
  def bruteForceTopK(
      df: DataFrame, idCol: String, vecCol: String,
      queryIds: Seq[Long], k: Int): DataFrame = {
    val q = df.filter(col(idCol).isin(queryIds.map(Long.box): _*))
      .select(col(idCol).as("query_id"), quantize(col(vecCol)).as("qv"))
      .withColumn("qn", normQ(col("qv")))
    val corpus = df.select(col(idCol).as("vec_id"), quantize(col(vecCol)).as("cv"))
      .withColumn("cn", normQ(col("cv")))
    topKByCosine(corpus.join(broadcast(q), col("vec_id") =!= col("query_id")), k)
  }

  /** Embedding-cosine near-dup pairs: axis-aligned sign-LSH banding
    * (8 bands × 8 dims of sign bits) generates candidates, exact
    * quantized cosine ≥ threshold verifies. Fully deterministic and
    * mirrorable in SQL — the banding is part of the operator's contract
    * (documented recall trade-off vs all-pairs). Never an all-pairs join:
    * candidates are bounded by band buckets. */
  def embeddingNearDups(
      df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, dim: Int = 64,
      maxBucketSize: Int = Dedup.DefaultMaxBucketSize): DataFrame = {
    val bands = 8
    val width = dim / bands
    val q = quantizedRows(df, col(idCol), vecCol)
    val bandStructs = (0 until bands).map { b =>
      val sig = concat((0 until width).map { i =>
        when(element_at(col("v"), b * width + i + 1) >= 0, lit("1")).otherwise(lit("0"))
      }: _*)
      struct(lit(b).as("band"), sig.as("bh"))
    }
    val banded = q
      .select(col("id"), col("v"), col("n"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("id"), col("v"), col("n"), col("bb.band"), col("bb.bh"))
      .persist()
    val (capped, overCache) =
      Dedup.capBuckets(banded, Seq("band", "bh"), maxBucketSize, "embeddingNearDups")
    val result = capped.as("l").join(capped.as("r"),
        col("l.band") === col("r.band") && col("l.bh") === col("r.bh") &&
          col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"),
        col("l.v").as("va"), col("r.v").as("vb"),
        col("l.n").as("na"), col("r.n").as("nb"))
      .distinct()
      .withColumn("cos", cosinePre(dotQ(col("va"), col("vb")), col("na"), col("nb")))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b")
    Dedup.materialized(result, Seq(banded) ++ overCache: _*)
  }

  // ---- Group centroids ---------------------------------------------------

  /** Per-group embedding centroids in exact integer micro-units:
    * centroid[i] = (Σ v_q[i]) DIV n over the group's quantized vectors —
    * deterministic and bit-identical cross-engine (no float summation
    * order dependence). Returns (group, n, centroid_q: array<bigint>).
    *
    * Scale shape: posexplode → one shuffle on (group, position) with
    * map-side combine (each partition pre-sums its repeated groups), a
    * second tiny shuffle on group to reassemble |groups|·dim rows into
    * arrays — the corpus vectors themselves never shuffle twice and no
    * collect touches the driver. The classic building block for
    * cluster-quality stats, domain drift checks, and seeding quantizers. */
  def groupCentroids(df: DataFrame, groupCol: String, vecCol: String): DataFrame = {
    val q = df.select(col(groupCol).as("grp"), quantize(col(vecCol)).as("v"))
    val n = q.groupBy("grp").agg(count(lit(1)).as("n"))
    val sums = q.select(col("grp"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy("grp", "pos").agg(sum(col("x")).as("s"))
    sums.groupBy("grp")
      .agg(sort_array(collect_list(struct(col("pos"), col("s")))).as("ps"))
      .join(n, "grp")
      .select(col("grp"), col("n"),
        expr("transform(ps, p -> p.s DIV n)").as("centroid_q"))
  }

  // ---- IVF (inverted-file) ANN: one model path --------------------------
  //
  // ivfTopK, ivfPqTopK, the persisted index (buildIvfPqIndex / queryIndex)
  // and semanticNearDups all rest on ONE model: a coarse k-means quantizer
  // ([[fitCoarse]]) plus, for IVF-PQ, per-subspace codebooks
  // ([[fitIvfPq]]). Queries probe it through [[probePairs]]; the IVF-PQ
  // operators rank through [[rankProbed]] alone, so the in-memory and the
  // persisted index are bit-exact twins by construction.

  /** Max rows the IVF coarse quantizer is fit on — centroids converge on
    * a sample; assignment (the distributed part) still sees every row. */
  val IvfFitSampleCap = 100000

  /** Max rows the PQ sub-quantizer codebooks are fit on: each models a
    * dim/m-dimensional marginal with 2^nbits cells, which converges on
    * far fewer points than the coarse quantizer needs. */
  val PqFitSampleCap = 20000

  /** The coarse quantizer, fit DRIVER-SIDE on ONE bounded deterministic
    * sample collect, which it also returns for the PQ codebook fit.
    *
    * The sample: KMeans quality needs only a representative sample, and
    * a full-corpus fit at 100 TB would dwarf the query itself.
    * orderBy(id).limit plans as a distributed top-k (per-partition heads,
    * no data shuffle), and unlike a bare limit() the sample is a pure
    * function of the data — not of partitioning — so results stay
    * reproducible on any layout. ≤ IvfFitSampleCap × dim doubles by
    * construction (~51 MB at the cap for dim 64).
    *
    * The fit: [[lloydCodebook]] on the driver — a Spark ML KMeans fit on
    * the sample cost ~15 scheduled jobs (k-means|| init passes + one job
    * per iteration) for arithmetic that is ≤ sample·nlist·dim·iters
    * driver flops (measured 2.0 s of t13's 2.2 s at sf0.1). */
  private def fitCoarse(df: DataFrame, idCol: String, vecCol: String,
      nlist: Int): (Array[Array[Double]], IndexedSeq[IndexedSeq[Long]]) = {
    val sample = df.select(col(idCol).as("id"),
        transform(col(vecCol), x => x.cast("double")).as("f"))
      .orderBy(col("id")).limit(IvfFitSampleCap)
      .select("f").collect().map(_.getSeq[Double](0).toArray)
    (sample, lloydCodebook(sample, nlist))
  }

  /** The IVF-PQ model from one sample collect: the coarse quantizer plus
    * one 2^nbits-entry codebook per subspace, fit on the first
    * [[PqFitSampleCap]] sample rows. */
  private def fitIvfPq(df: DataFrame, idCol: String, vecCol: String,
      nlist: Int, m: Int, nbits: Int): AnnIndexModel = {
    require(nbits >= 1 && nbits <= 8, s"nbits in [1,8]: $nbits")
    val (sample, centersQ) = fitCoarse(df, idCol, vecCol, nlist)
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim must divide into $m subspaces")
    val w = dim / m
    val pqSample = sample.take(PqFitSampleCap)
    val codebooksQ = (0 until m).map(j =>
      lloydCodebook(pqSample.map(_.slice(j * w, (j + 1) * w)), 1 << nbits))
    AnnIndexModel(nlist, m, nbits, dim, centersQ, codebooksQ)
  }

  /** Driver-side Lloyd's k-means (coarse quantizer AND PQ codebooks):
    * deterministic strided init over the (id-ordered) sample, empty
    * clusters keep their previous center, 10 iterations. The sample is
    * bounded ([[IvfFitSampleCap]]), so this is O(sample · k · dim · iters)
    * driver arithmetic — no job scheduling, bit-reproducible. Centers
    * come back in exact integer micro-units, the arithmetic of every
    * assignment, probe and ADC table. */
  private def lloydCodebook(
      points: Array[Array[Double]], k: Int): IndexedSeq[IndexedSeq[Long]] = {
    require(points.nonEmpty, "empty codebook sample")
    val iters = 10
    val n = points.length
    val d = points.head.length
    var centers: Array[Array[Double]] =
      Array.tabulate(k)(i => points(math.min(((i.toLong * n) / k).toInt, n - 1)).clone())
    var it = 0
    while (it < iters) {
      val sums = Array.fill(k)(new Array[Double](d))
      val counts = new Array[Long](k)
      var pi = 0
      while (pi < n) {
        val p = points(pi)
        var best = 0
        var bestD = Double.MaxValue
        var c = 0
        while (c < k) {
          var dist = 0.0
          var i = 0
          while (i < d) { val t = p(i) - centers(c)(i); dist += t * t; i += 1 }
          if (dist < bestD) { bestD = dist; best = c }
          c += 1
        }
        val s = sums(best)
        var i = 0
        while (i < d) { s(i) += p(i); i += 1 }
        counts(best) += 1
        pi += 1
      }
      centers = Array.tabulate(k)(c =>
        if (counts(c) == 0) centers(c)
        else sums(c).map(_ / counts(c)))
      it += 1
    }
    centers.toIndexedSeq.map(_.toIndexedSeq.map(x => math.round(x * 1e6)))
  }

  /** Exact squared distance of two quantized vectors. */
  private def sqDist(a: Seq[Long], b: Seq[Long]): Long =
    a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum

  /** Coarse cell of a quantized vector: the codegen'd PqEncodeQ argmin
    * kernel with m = 1 over the full vector (no ML-pipeline UDF in the
    * scan). */
  private def cellOf(v: Column, centersQ: IndexedSeq[IndexedSeq[Long]]): Column =
    element_at(graft.functions.VectorFunctions.pqEncodeQ(
      v, centersQ.flatten, 1, centersQ.length, centersQ.head.length), 1)

  /** (query_id, cell) for each query's `nprobe` nearest coarse cells, in
    * the SAME quantized arithmetic as the corpus assignment so probe and
    * cell agree; ties go to the lower cell. Queries are a small batch by
    * contract and the centroid table is nlist × dim — driver trivial. */
  private def probePairs(centersQ: Seq[Seq[Long]], queries: Seq[QueryRow],
      nprobe: Int): Seq[(Long, Int)] =
    queries.flatMap { case (qid, qv, _) =>
      centersQ.map(sqDist(_, qv)).zipWithIndex.sortBy(_._1).take(nprobe)
        .map { case (_, ci) => (qid, ci) }
    }

  /** A query as (id, quantized vector, exact squared norm). */
  private type QueryRow = (Long, Array[Long], Long)

  /** Collect a (small) batch of [[quantizedRows]] as queries. */
  private def collectQueries(rows: DataFrame): Seq[QueryRow] = {
    val spark = rows.sparkSession
    import spark.implicits._
    rows.select("id", "v", "n").as[QueryRow].collect().toSeq
  }

  /** IVF top-k: a KMeans coarse quantizer partitions the corpus into
    * `nlist` cells; each query probes its `nprobe` nearest cells and ranks
    * candidates by exact quantized cosine. The classic IVF-Flat layout:
    * at 100 TB the cell assignment is a narrow column and each query
    * touches nprobe/nlist of the corpus. Approximate by design (recall
    * depends on nprobe). */
  def ivfTopK(
      df: DataFrame, idCol: String, vecCol: String,
      queryIds: Seq[Long], k: Int,
      nlist: Int = 16, nprobe: Int = 4): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val (_, centersQ) = fitCoarse(df, idCol, vecCol, nlist)
    val assigned = quantizedRows(df, col(idCol), vecCol)
      .withColumn("cell", cellOf(col("v"), centersQ))
      .persist()
    val queries = collectQueries(assigned.filter(col("id").isin(queryIds.map(Long.box): _*)))
    val probes = probePairs(centersQ, queries, nprobe).toDF("query_id", "cell")
    val qv = queries.toDF("query_id", "qv", "qn")
    val cands = assigned.join(broadcast(probes), "cell")
      .filter(col("id") =!= col("query_id"))
      .join(broadcast(qv), "query_id")
      .select(col("query_id"), col("id").as("vec_id"), col("v").as("cv"),
        col("n").as("cn"), col("qv"), col("qn"))
      .distinct()
    Dedup.materialized(topKByCosine(cands, k), assigned)
  }

  // ---- IVF-PQ (product quantization) ------------------------------------

  /** IVF-PQ top-k: the IVF coarse cells of [[ivfTopK]] plus a product
    * quantizer — each vector's `dim` floats compress to `m` sub-codes
    * (one byte each), and candidate ranking runs on ADC (asymmetric
    * distance computation) against per-query lookup tables instead of
    * touching the full vectors. The 100 TB index shape: dim×4 bytes per
    * vector in the scan vs m bytes in the PQ index, with the LUTs
    * (queries × m × 2^nbits longs) broadcast as literals.
    *
    * Pipeline: [[fitIvfPq]] → corpus encoded narrowly under the model
    * ([[encodeWithModel]]) → [[rankProbed]], the same rank as
    * [[queryIndex]]. Raw-vector PQ (no residual encoding): simpler,
    * deterministic, and the re-rank step absorbs the precision loss;
    * approximate by design with recall pinned in SimilaritySpec and
    * in-query floors in the harness. */
  def ivfPqTopK(
      df: DataFrame, idCol: String, vecCol: String,
      queryIds: Seq[Long], k: Int,
      nlist: Int = 16, nprobe: Int = 4,
      m: Int = 8, nbits: Int = 5, refine: Int = 8): DataFrame = {
    val model = fitIvfPq(df, idCol, vecCol, nlist, m, nbits)
    val encoded = encodeWithModel(df, idCol, vecCol, model).persist()
    val queries = collectQueries(encoded.filter(col("id").isin(queryIds.map(Long.box): _*)))
    val result = rankProbed(model, _ => encoded, queries, k, nprobe, refine, excludeSelf = true)
    Dedup.materialized(result, encoded)
  }

  /** The one IVF-PQ rank: each query probes its `nprobe` nearest cells of
    * `model`, ADC ranks the probed candidates against the query's LUT
    * (the fused AdcLookupQ kernel, not a per-row zip_with), keeps the top
    * refine·k, and re-ranks those by exact quantized cosine. `codes` maps
    * the probed cells to the codes plane (id, cell, codes, v, n), which
    * must hold at least those cells. Returns (query_id, rank, vec_id). */
  private def rankProbed(model: AnnIndexModel, codes: Seq[Int] => DataFrame,
      queries: Seq[QueryRow], k: Int, nprobe: Int, refine: Int,
      excludeSelf: Boolean): DataFrame = {
    val probed = probePairs(model.centersQ, queries, nprobe)
    val stored = codes(probed.map(_._2).distinct.sorted)
    val spark = stored.sparkSession
    import spark.implicits._
    val probes = probed.toDF("query_id", "cell")
    val qlut = queries.map { case (qid, qv, _) => (qid, model.lut(qv)) }.toDF("query_id", "lut")
    val qv = queries.toDF("query_id", "qv", "qn")
    val inCells = stored.join(broadcast(probes), "cell")
    val cands = (if (excludeSelf) inCells.filter(col("id") =!= col("query_id")) else inCells)
      .join(broadcast(qlut), "query_id")
      .withColumn("adc",
        graft.functions.VectorFunctions.adcLookupQ(col("codes"), col("lut")))
      .select(col("query_id"), col("id").as("vec_id"), col("adc"))
      .distinct()
    val wAdc = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").asc, col("vec_id").asc)
    val shortlist = cands.withColumn("adc_rank", row_number().over(wAdc))
      .filter(col("adc_rank") <= refine * k)
      .select("query_id", "vec_id")
    topKByCosine(shortlist
      .join(stored.select(col("id").as("vec_id"), col("v").as("cv"), col("n").as("cn")),
        "vec_id")
      .join(broadcast(qv), "query_id"), k)
  }

  // ---- Persisted IVF-PQ index lifecycle (VERDICT r17 #3) -----------------

  /** The IVF-PQ model — and the model plane of a persisted ANN index:
    * coarse centroids + per-subspace PQ codebooks, all in exact integer
    * micro-units so encode/probe/ADC arithmetic is bit-identical across
    * build, load, and append. Size: nlist×dim + m×2^nbits×(dim/m) longs —
    * driver trivial by construction. */
  final case class AnnIndexModel(
      nlist: Int, m: Int, nbits: Int, dim: Int,
      centersQ: IndexedSeq[IndexedSeq[Long]],
      codebooksQ: IndexedSeq[IndexedSeq[IndexedSeq[Long]]]) {
    def codes: Int = 1 << nbits
    def w: Int = dim / m
    def flatCodebooks: IndexedSeq[Long] = codebooksQ.flatten.flatten

    /** A quantized query's ADC lookup tables: per subspace, the exact
      * squared distance to each of the 2^nbits codebook entries. */
    private[operators] def lut(qv: Array[Long]): Seq[Seq[Long]] =
      codebooksQ.indices.map { j =>
        val qs = qv.slice(j * w, (j + 1) * w)
        codebooksQ(j).map(sqDist(_, qs))
      }
  }

  private def modelPath(indexPath: String): String = s"$indexPath/model"
  private def codesPath(indexPath: String): String = s"$indexPath/codes"

  /** Encode a corpus under a model — quantize, exact norm, coarse-cell
    * assignment and PQ codes through the codegen'd PqEncodeQ kernel (the
    * portable array_min-over-HOF formulation, pinned bit-equal in
    * SimilaritySpec, runs interpreted). One scan, no shuffle. */
  private def encodeWithModel(df: DataFrame, idCol: String, vecCol: String,
      model: AnnIndexModel): DataFrame =
    quantizedRows(df, col(idCol).cast("long"), vecCol)
      .withColumn("cell", cellOf(col("v"), model.centersQ))
      .withColumn("codes", graft.functions.VectorFunctions.pqEncodeQ(
        col("v"), model.flatCodebooks, model.m, model.codes, model.w))

  /** Build a persisted IVF-PQ index ONCE (VERDICT r17 #3): fit the model
    * exactly as [[ivfPqTopK]] does, then persist BOTH planes as Delta
    * tables under `indexPath` through the engine's own transactional
    * writer:
    *
    *  - `<indexPath>/model` — the tiny model plane: one row per coarse
    *    centroid (kind='coarse') and per codebook entry
    *    (kind='codebook'), parameters stamped as table properties;
    *  - `<indexPath>/codes` — the large vector plane: (id, cell, codes,
    *    v, n), hive-PARTITIONED BY cell so a query's nprobe cell filter
    *    prunes at the Delta LOG level — unprobed cells are never listed,
    *    planned, or opened (the 100 TB path: each batch touches
    *    ~nprobe/nlist of the index). `codes` is the m-byte ADC plane;
    *    `v`/`n` back the exact re-rank (the refine plane — a codes-only
    *    index would drop them for dim×8÷m compression at the cost of
    *    approximate final ranks).
    *
    * Many query batches then run against the stored tables with ZERO
    * fit work ([[queryIndex]]), and arriving vectors append under the
    * frozen model ([[appendToIndex]]) — the vector twin of the t22
    * persisted signature index. */
  def buildIvfPqIndex(df: DataFrame, idCol: String, vecCol: String,
      indexPath: String, nlist: Int = 16, m: Int = 8,
      nbits: Int = 5): AnnIndexModel = {
    val model = fitIvfPq(df, idCol, vecCol, nlist, m, nbits)
    writeModel(df.sparkSession, indexPath, model)
    // optimizeWrite stamped at creation: the AQE REBALANCE staging shape
    // sizes per-cell output from measured bytes — small cells coalesce,
    // a hot cell splits across files instead of serializing into one —
    // and appendToIndex inherits the property from the stored table
    graft.delta.DeltaWrite.write(
      encodeWithModel(df, idCol, vecCol, model),
      codesPath(indexPath), mode = "overwrite", partitionBy = Seq("cell"),
      overwriteSchema = true,
      configuration = Map("delta.autoOptimize.optimizeWrite" -> "true"))
    model
  }

  private def writeModel(spark: SparkSession, indexPath: String,
      model: AnnIndexModel): Unit = {
    import spark.implicits._
    val coarseRows = model.centersQ.zipWithIndex.map { case (c, ci) =>
      ("coarse", -1, ci, c) }
    val cbRows = for {
      (cb, j) <- model.codebooksQ.zipWithIndex
      (c, code) <- cb.zipWithIndex
    } yield ("codebook", j, code, c)
    graft.delta.DeltaWrite.write(
      // ONE file: the model plane is nlist + m·2^nbits rows of control
      // plane — parallelize's default defaultParallelism split would
      // stage, stat and move 32 ~10-row files per build (guide §6)
      (coarseRows ++ cbRows).toDF("kind", "sub", "idx", "vals").coalesce(1),
      modelPath(indexPath), mode = "overwrite", overwriteSchema = true,
      configuration = Map(
        "graft.ann.nlist" -> model.nlist.toString,
        "graft.ann.m" -> model.m.toString,
        "graft.ann.nbits" -> model.nbits.toString,
        "graft.ann.dim" -> model.dim.toString))
  }

  /** Load the model plane of a persisted index — a bounded control-plane
    * read (nlist + m·2^nbits rows), never the codes plane. */
  def loadAnnIndex(spark: SparkSession, indexPath: String): AnnIndexModel = {
    val meta = graft.delta.DeltaLog.forTable(spark, modelPath(indexPath))
      .snapshot(None).metadata.configuration
    def p(key: String): Int = meta.getOrElse(s"graft.ann.$key",
      throw new IllegalStateException(
        s"${modelPath(indexPath)} is not a graft ANN index (missing table " +
          s"property graft.ann.$key)")).toInt
    val (nlist, m, nbits, dim) = (p("nlist"), p("m"), p("nbits"), p("dim"))
    val rows = graft.delta.DeltaRead.load(spark, modelPath(indexPath))
      .select("kind", "sub", "idx", "vals").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2),
        r.getSeq[Long](3).toIndexedSeq))
    val centersQ = rows.filter(_._1 == "coarse").sortBy(_._3).map(_._4).toIndexedSeq
    require(centersQ.length == nlist,
      s"model plane lists ${centersQ.length} coarse centroids, expected $nlist")
    val codebooksQ = (0 until m).map { j =>
      val cb = rows.filter(r => r._1 == "codebook" && r._2 == j)
        .sortBy(_._3).map(_._4).toIndexedSeq
      require(cb.length == (1 << nbits),
        s"codebook $j has ${cb.length} entries, expected ${1 << nbits}")
      cb
    }
    AnnIndexModel(nlist, m, nbits, dim, centersQ, codebooksQ.toIndexedSeq)
  }

  /** Append arriving vectors to a persisted index under the FROZEN
    * model — assignment + PQ encode with the stored centroids/codebooks,
    * NO refit (the model table is untouched; its version is the spec's
    * zero-fit witness). Append-skew note: new vectors landing in a hot
    * cell only grow that cell's partition; rebuilding cell balance is an
    * explicit re-[[buildIvfPqIndex]], never an implicit side effect. */
  def appendToIndex(df: DataFrame, idCol: String, vecCol: String,
      indexPath: String): Unit = {
    val model = loadAnnIndex(df.sparkSession, indexPath)
    graft.delta.DeltaWrite.write(
      encodeWithModel(df, idCol, vecCol, model),
      codesPath(indexPath), mode = "append")
  }

  /** Maintenance for a long-lived index: compact the codes plane's
    * accumulated append files through the engine's OPTIMIZE
    * (dataChange=false — readers see identical rows, queries just plan
    * fewer files per probed cell; per-cell qualification means a cell
    * below `minFilesToCompact` is untouched). The model plane never
    * needs maintenance — one tiny overwrite per build. Returns
    * (filesRemoved, filesAdded). */
  def optimizeIndex(spark: SparkSession, indexPath: String,
      targetFileBytes: Long = 128L * 1024 * 1024,
      minFilesToCompact: Int = 2): (Int, Int) =
    graft.delta.DeltaMaintenance.compact(spark, codesPath(indexPath),
      targetFileBytes = targetFileBytes, minFilesToCompact = minFilesToCompact)

  /** Query a persisted index with ZERO fit work: the stored model probes
    * `nprobe` cells per query, the codes plane is read under a cell
    * filter that prunes at the Delta LOG level (unprobed partitions are
    * never listed), ADC ranks candidates against broadcast per-query
    * LUTs, and the stored refine plane re-ranks the ADC top refine·k by
    * exact quantized cosine. Queries are a small batch by contract
    * (bounded driver collect, hard require). The rank is [[rankProbed]],
    * the same as [[ivfPqTopK]]'s, so an index built from the same corpus
    * returns the same rows. Returns (query_id, rank, vec_id). */
  def queryIndex(queries: DataFrame, idCol: String, vecCol: String,
      indexPath: String, k: Int, nprobe: Int = 4, refine: Int = 8,
      excludeSelf: Boolean = true): DataFrame = {
    val spark = queries.sparkSession
    val model = loadAnnIndex(spark, indexPath)
    val qRows = collectQueries(quantizedRows(queries, col(idCol).cast("long"), vecCol))
    require(qRows.length <= 4096,
      s"queryIndex is a per-batch probe (got ${qRows.length} queries, cap 4096)")
    // log-level partition pruning: only probed cells' files are listed
    rankProbed(model,
      cells => graft.delta.DeltaRead.load(spark, codesPath(indexPath),
        filters = cells.map(c => Seq(graft.delta.Predicate("cell", "==", c)))),
      qRows, k, nprobe, refine, excludeSelf)
  }

  // ---- Random-hyperplane LSH (scale path) -------------------------------

  /** Deterministic ±1 hyperplanes: sign of a seeded hash of (plane, dim).
    * numPlanes bits form the signature. */
  def signature(vecQ: Column, dim: Int, numPlanes: Int = 16): Column = {
    val bits = (0 until numPlanes).map { p =>
      // dot(vec, plane_p) where plane_p[i] = ±1 from a fixed hash
      val signs = (0 until dim).map { i =>
        // productHash is pinned: its exact values are baked into the t06
        // oracle constants — caseClassHash would silently re-plane the LSH
        val h: Int = (scala.util.hashing.MurmurHash3.productHash((p, i)): @scala.annotation.nowarn("cat=deprecation"))
        if ((h & 1) == 0) 1L else -1L
      }
      val planeDot = dotQ(vecQ, typedLit(signs))
      when(planeDot >= 0, shiftleft(lit(1), p)).otherwise(0)
    }
    bits.reduce(_.bitwiseOR(_))
  }

  /** ANN top-k: candidates = corpus vectors sharing ≥1 of 4 signature
    * bands (4 bits each) with the query, then exact cosine rank among
    * candidates. Approximate — high recall on clustered data. */
  def lshTopK(
      df: DataFrame, idCol: String, vecCol: String,
      queryIds: Seq[Long], k: Int, dim: Int): DataFrame = {
    val numPlanes = 16
    val bandBits = 4
    val withSig = quantizedRows(df, col(idCol), vecCol)
      .withColumn("sig", signature(col("v"), dim, numPlanes))
    val banded = withSig.select(col("id"), col("v"), col("n"),
        explode(array((0 until numPlanes / bandBits).map(b =>
          struct(lit(b).as("band"),
            shiftright(col("sig"), b * bandBits).bitwiseAND(lit((1 << bandBits) - 1)).as("bh"))): _*))
          .as("bb"))
      .select(col("id"), col("v"), col("n"), col("bb.band"), col("bb.bh"))
    val qb = banded.filter(col("id").isin(queryIds.map(Long.box): _*))
      .select(col("id").as("query_id"), col("v").as("qv"), col("n").as("qn"),
        col("band"), col("bh"))
    val cands = banded.join(broadcast(qb), Seq("band", "bh"))
      .filter(col("id") =!= col("query_id"))
      .select(col("query_id"), col("qv"), col("qn"),
        col("id").as("vec_id"), col("v").as("cv"), col("n").as("cn"))
      .distinct()
    topKByCosine(cands, k)
  }

  // ---- Semantic dedup (SemDeDup-style) ----------------------------------

  /** Semantic near-dedup pairs (the SemDeDup recipe, Abbas et al. 2023):
    * the coarse quantizer of [[ivfTopK]] ([[fitCoarse]]) partitions the
    * corpus into `nlist` cells; each vector is indexed into its `nprobe`
    * NEAREST cells (multi-probe — a pair is a candidate iff the probe
    * sets intersect), then exact quantized cosine ≥ threshold verifies.
    * Returns (id_a, id_b, cos) with id_a < id_b.
    *
    * Assignment is pure narrow column work: distances to the (tiny,
    * literal) centroid table in exact quantized BIGINTs, ties broken by
    * cell index — no per-row ML pipeline, no shuffle before the bucket
    * join. Approximate by design: a pair sharing none of its nprobe²
    * cell combinations is missed (recall pinned in SimilaritySpec).
    * Scale: never all-pairs — candidates are bounded per cell (nprobe×
    * corpus rows spread over nlist cells), cells are capped with logged
    * drops like every banded join here. */
  def semanticNearDups(
      df: DataFrame, idCol: String, vecCol: String, threshold: Double,
      nlist: Int = 16, nprobe: Int = 2,
      maxCellSize: Int = Dedup.DefaultMaxBucketSize): DataFrame = {
    require(nprobe >= 1 && nprobe <= nlist, s"nprobe must be in [1, $nlist]: $nprobe")
    val centersQ: Seq[Seq[Long]] = fitCoarse(df, idCol, vecCol, nlist)._2
    // nprobe nearest cells per vector: exact quantized squared distances
    // to each centroid, lexicographic (dist, cell) sort — deterministic
    val dists = centersQ.zipWithIndex.map { case (c, i) =>
      val d2 = aggregate(zip_with(col("v"), typedLit(c), (x, y) => (x - y) * (x - y)),
        lit(0L), (acc, x) => acc + x)
      struct(d2.as("d"), lit(i).as("cell"))
    }
    val assigned = quantizedRows(df, col(idCol), vecCol)
      .withColumn("__cells", slice(array_sort(array(dists: _*)), 1, nprobe))
      .select(col("id"), col("v"), col("n"),
        explode(transform(col("__cells"), x => x.getField("cell"))).as("cell"))
      .persist()
    val (capped, overCache) =
      Dedup.capBuckets(assigned, Seq("cell"), maxCellSize, "semanticNearDups")
    val result = capped.as("l").join(capped.as("r"),
        col("l.cell") === col("r.cell") && col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"),
        col("l.v").as("va"), col("r.v").as("vb"),
        col("l.n").as("na"), col("r.n").as("nb"))
      .distinct()
      .withColumn("cos", cosinePre(dotQ(col("va"), col("vb")), col("na"), col("nb")))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
    Dedup.materialized(result, Seq(assigned) ++ overCache: _*)
  }

  /** Semantic dedup end to end: within-cell near-dup pairs → keep only
    * each connected cluster's smallest id (the SemDeDup pruning step). */
  def semanticDedup(
      df: DataFrame, idCol: String, vecCol: String, threshold: Double,
      nlist: Int = 16, nprobe: Int = 2,
      maxCellSize: Int = Dedup.DefaultMaxBucketSize): DataFrame = {
    val pairs = semanticNearDups(df, idCol, vecCol, threshold, nlist, nprobe, maxCellSize)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
    val clusters = Dedup.nearDupClusters(pairs)
    val losers = clusters.filter(col("doc_id") =!= col("cluster_id")).select("doc_id")
    val out = df.join(losers.withColumnRenamed("doc_id", idCol), Seq(idCol), "left_anti")
    clusters.unpersist(blocking = false)
    pairs.unpersist(blocking = false)
    out
  }
}
