package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, Row}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType, StructField, StructType}

import scala.jdk.CollectionConverters._

/** Deduplication operators for LLM training-data pipelines.
  *
  * Scale design: everything is hash-partitioned group work or bucketed
  * self-joins — never an all-pairs cross join. The one piece of driver
  * state is a small near-dup graph: [[nearDupClusters]] labels a pair
  * list of at most `LocalPairs` pairs on the driver. The
  * MinHash-LSH path is the classic shingle → signature → band-bucket →
  * candidate-join → exact-verify pipeline; at 100 TB each stage is one
  * shuffle on bounded keys (band buckets cap candidate fan-out).
  */
object Dedup {

  /** Exact dedup: keep the row with the smallest `orderCol` per key group
    * (deterministic when `orderCol` is unique within a group — same
    * contract as the window variant). Implemented as a hash aggregation
    * with `min_by(struct(*), orderCol)`: partial (map-side) aggregation
    * means a degenerate hot key — one boilerplate doc duplicated 10^8
    * times, the realistic text-dedup case — combines locally before one
    * bounded shuffle, where a window funnels the whole group into a
    * single task. */
  def exact(df: DataFrame, keys: Seq[String], orderCol: String): DataFrame =
    df.groupBy(keys.map(col): _*)
      // ordering key is (isNull, value): min_by skips rows whose ordering
      // value is NULL, so a group with only-null orderCol would collapse
      // to one all-null row — the wrapper keeps nulls orderable (last),
      // matching the window variant's group-preserving behavior
      .agg(min_by(struct(df.columns.toIndexedSeq.map(col): _*),
        struct(col(orderCol).isNull.as("n"), col(orderCol).as("v"))).as("__row"))
      .select(col("__row.*"))

  /** Window-based exact dedup (row_number = 1). Same results as `exact`;
    * kept as an option for when per-group rank context is needed anyway.
    * Not skew-safe: each key group lands in a single task. */
  def exactViaWindow(df: DataFrame, keys: Seq[String], orderCol: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(orderCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  // ---- Normalization-based exact dedup -----------------------------------

  /** Canonical text form for normalization-based exact dedup (the
    * RefinedWeb/Falcon "exact dedup after normalization" pass): lowercase,
    * every character outside Unicode letters/digits/space to a space,
    * runs of spaces collapsed, ends trimmed. Case, punctuation, and
    * whitespace variants of the same text map to one key; pure per-row
    * expression. Unicode classes (`\p{L}\p{N}`), not `[a-z0-9]`: an
    * ASCII-only class strips every non-Latin letter, collapsing distinct
    * accented/Cyrillic/CJK documents into one (often empty) key
    * (ADVICE r15) — both Spark (Java regex) and DuckDB (RE2) support the
    * same classes, so the oracle mirrors exactly. */
  def normalizedText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[^\\p{L}\\p{N} ]", " "), " +", " "))

  /** Exact dedup on the NORMALIZED text: keeps the min-`orderCol` row per
    * normalized key and reports how many variants collapsed into it.
    * Catches the near-misses raw exact dedup leaves behind (case flips,
    * punctuation, doubled spaces) without any pairwise machinery.
    *
    * Documents whose normalized form is EMPTY (symbol/punctuation-only
    * text) carry no signal for normalization equivalence — they dedup on
    * their RAW text instead (a `\u0001`-prefixed key no normalized form
    * can collide with), so two distinct symbol-only documents are never
    * merged as "variants" of each other (ADVICE r15).
    *
    * Scale shape: identical to [[exact]] — one hash aggregate on the
    * normalized key with map-side combine (`min_by(struct)` + count), so
    * a key duplicated 10^6 times collapses per partition before the
    * single shuffle. The normalization itself is scan-local. */
  def normalizedExact(df: DataFrame, textCol: String, orderCol: String): DataFrame =
    df.withColumn("__norm", {
        val n = normalizedText(col(textCol))
        when(n === "", concat(lit("\u0001"), col(textCol))).otherwise(n)
      })
      .groupBy(col("__norm"))
      .agg(
        min_by(struct(df.columns.toIndexedSeq.map(col): _*),
          struct(col(orderCol).isNull.as("n"), col(orderCol).as("v"))).as("__row"),
        count(lit(1)).as("n_variants"))
      .select(col("__row.*"), col("n_variants"))

  // ---- MinHash-LSH near-dedup -------------------------------------------

  /** Number of minhash functions and the LSH banding (bands × rowsPerBand
    * = numHashes). 8 bands × 4 rows targets J ≈ 0.5+ candidates. */
  val NumHashes = 32
  val Bands = 8
  val RowsPerBand: Int = NumHashes / Bands
  private val P = 2147483647L // 2^31-1; keeps a*h+b < 2^62 (ANSI-safe)

  /** Deterministic per-function coefficients (fixed seed). */
  /** The deterministic (a_j, b_j, P) signature parameters — public so
    * the SQL function surface (`minhash_sig` via GraftExtensions) binds
    * the exact same family as [[minhashSignatures]]. */
  def signatureParams: (IndexedSeq[Long], IndexedSeq[Long], Long) =
    (coefs.map(_._1).toIndexedSeq, coefs.map(_._2).toIndexedSeq, P)

  private val coefs: Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(42)
    Seq.fill(NumHashes)((rnd.nextInt(Int.MaxValue - 1).toLong + 1, rnd.nextInt(Int.MaxValue).toLong))
  }

  /** Distinct word n-gram shingles from a MATERIALIZED words array.
    * The words column must be a projected attribute, not an inline
    * `split(...)` expression — a lambda body referencing an inline split
    * re-evaluates it per element, turning shingling O(n²) per document. */
  def shinglesOfWords(words: Column, n: Int = 3): Column = {
    val grams = transform(
      sequence(lit(0), greatest(size(words) - n, lit(0))),
      i => when(size(words) >= n,
        concat_ws(" ", slice(words, i + 1, lit(n)))).otherwise(array_join(words, " ")))
    array_distinct(grams)
  }

  /** doc_id + shingle set — the fused byte-level kernel (`WordGrams`):
    * the composed split→transform→concat_ws→array_distinct formulation
    * ran as interpreted higher-order functions and was the dominant map
    * cost of every string-shingle consumer (DedupSpec pins the kernel
    * bit-identical to [[shinglesOfWords]], which remains the semantics
    * oracle). */
  def withShingleSet(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"), shingles(col(textCol)).as("sh_set"))

  /** Per-doc distinct word n-gram shingles of `text` (fused kernel). */
  def shingles(text: Column, n: Int = 3): Column =
    graft.functions.VectorFunctions.wordGrams(text, n)

  /** doc_id + DISTINCT gram xxhash64 values — the fused byte-level form
    * of `withShingleSet` → `transform(sh_set, xxhash64)`: no gram string
    * is ever materialized (the composed path copied ~n× the text through
    * slice + concat_ws per window, then array_distinct'd and re-hashed
    * the strings). Distinct-by-string, first-occurrence order,
    * bit-identical values (DedupSpec pin). */
  private[operators] def withGramHashes(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"),
      graft.functions.VectorFunctions.wordGramXxhash64(col(textCol), 3).as("hs"))

  /** Signatures from a (doc_id, hs) gram-hash frame — one fused codegen
    * loop per row (`MinhashSigQ`), bit-identical to the HOF formulation
    * over `pmod(xxhash64(gram), P)` (DedupSpec pins all three paths
    * against each other). Row-local and shuffle-free like the string
    * path it replaces. */
  private[operators] def signaturesFromHashes(hashed: DataFrame): DataFrame =
    hashed
      .filter(size(col("hs")) > 0)
      .select(col("doc_id"),
        graft.functions.VectorFunctions.minhashSigQ(
          col("hs"), coefs.map(_._1).toIndexedSeq, coefs.map(_._2).toIndexedSeq, P).as("sig"))

  /** doc_id → 32-wide minhash signature (array<long>) — row-local,
    * shuffle-free (PlanQualitySpec pins zero exchanges). */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String): DataFrame =
    signaturesFromHashes(withGramHashes(df, idCol, textCol))

  /** Typed Aggregator over exploded (doc_id, shingle-hash) rows — the
    * shuffle-based signature path. Kept ONLY as the independent oracle for
    * the row-local path's property pin (DedupSpec): same math, different
    * execution. */
  private[operators] object MinhashSigAgg extends Aggregator[Long, Array[Long], Seq[Long]] {
    private val as = coefs.map(_._1).toArray
    private val bs = coefs.map(_._2).toArray
    override def zero: Array[Long] = Array.fill(NumHashes)(Long.MaxValue)
    override def reduce(buf: Array[Long], h: Long): Array[Long] = {
      var j = 0
      while (j < NumHashes) {
        val v = (as(j) * h + bs(j)) % P // h ∈ [0,P): no overflow, % = pmod
        if (v < buf(j)) buf(j) = v
        j += 1
      }
      buf
    }
    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var j = 0
      while (j < NumHashes) { if (b(j) < a(j)) a(j) = b(j); j += 1 }
      a
    }
    override def finish(v: Array[Long]): Seq[Long] = v.toSeq
    override def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder()
    override def outputEncoder: Encoder[Seq[Long]] = ExpressionEncoder()
  }

  /** Signatures computed ROW-LOCALLY: per doc, h = pmod(xxhash64(sh), P)
    * per shingle, then sig[j] = min over shingles of (a_j·h + b_j) % P.
    * No explode, no shuffle, no aggregation — a narrow map over the
    * corpus, which is the shape that survives 100 TB (the former
    * explode→groupBy path shuffled docs×shingles rows and fell back to
    * sort-based object aggregation past 128 groups/partition). Values are
    * bit-identical to MinhashSigAgg (property-pinned in DedupSpec).
    * Docs with a NULL/empty shingle set are dropped, mirroring what
    * explode did on the aggregator path. */
  private[operators] def signaturesFromShingleSets(sets: DataFrame): DataFrame = {
    val aArr = array(coefs.map(c => lit(c._1)): _*)
    val bArr = array(coefs.map(c => lit(c._2)): _*)
    sets
      .filter(size(col("sh_set")) > 0)
      .withColumn("__hs", transform(col("sh_set"), sh => pmod(xxhash64(sh), lit(P))))
      .select(col("doc_id"),
        transform(sequence(lit(0), lit(NumHashes - 1)), j =>
          array_min(transform(col("__hs"), h =>
            pmod(element_at(aArr, j + 1) * h + element_at(bArr, j + 1), lit(P))))).as("sig"))
  }

  /** The shuffle-based aggregator path — test oracle for the row-local
    * signatures (DedupSpec pins bit-equality on a random corpus). */
  private[operators] def signaturesViaAggregator(sets: DataFrame): DataFrame =
    sets
      .select(col("doc_id"), explode(col("sh_set")).as("sh"))
      .withColumn("h", pmod(xxhash64(col("sh")), lit(P)))
      .groupBy("doc_id")
      .agg(udaf(MinhashSigAgg).apply(col("h")).as("sig"))

  /** Default cap on band-bucket membership for banded self-joins. On
    * healthy corpora buckets hold a handful of docs; one viral band value
    * (identical boilerplate repeated millions of times) makes the
    * self-join quadratic at scale. */
  val DefaultMaxBucketSize = 1000

  private lazy val logger = org.slf4j.LoggerFactory.getLogger("graft.operators")

  /** Drop band buckets with more than `cap` members before a banded
    * self-join, LOGGING what was dropped (no silent caps). Members of a
    * dropped bucket can still pair through their other bands; truly viral
    * exact duplicates are exact-dedup's job, not near-dedup's. */
  private[operators] def capBuckets(
      banded: DataFrame, keyCols: Seq[String], cap: Int,
      opName: String): (DataFrame, Option[DataFrame]) = {
    // persisted: the stats head() below materializes it, so the anti-join
    // reads the cached (tiny: one row per OVERSIZED bucket) frame instead
    // of re-aggregating the full banded input a second time
    val over = banded.groupBy(keyCols.map(col): _*).count().filter(col("count") > cap)
      .persist()
    val st = over.agg(count(lit(1)).as("n"), coalesce(sum("count"), lit(0L)).as("rows")).head()
    if (st.getLong(0) > 0L) {
      logger.warn(
        s"[$opName] dropping ${st.getLong(0)} band buckets with > $cap members " +
          s"(${st.getLong(1)} banded rows) — near-dup recall may drop on boilerplate-heavy corpora")
      // the cached `over` frame rides back to the caller, which threads it
      // into materialized() so it is released once the join consumes it
      (banded.join(over.select(keyCols.map(col): _*), keyCols, "left_anti"), Some(over))
    } else {
      over.unpersist(blocking = false)
      (banded, None)
    }
  }

  /** (doc_id, band, bh) LSH band rows of a signature frame — the banded
    * index both the self-join (candidatePairs) and the batch-vs-corpus
    * probe (incrementalNearDups) bucket on. */
  private[operators] def bandedOf(sigs: DataFrame): DataFrame = {
    val bandStructs = (0 until Bands).map { b =>
      val rowCols = (0 until RowsPerBand).map(r =>
        element_at(col("sig"), b * RowsPerBand + r + 1))
      struct(lit(b).as("band"), xxhash64(rowCols: _*).as("bh"))
    }
    sigs
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bh").as("bh"))
  }

  /** Candidate near-dup pairs: docs sharing at least one LSH band bucket.
    * Bucketed self-join on (band, bandHash) — never all-pairs; buckets
    * above `maxBucketSize` are dropped (logged). */
  def candidatePairs(sigs: DataFrame, maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    // persist: the self-join would otherwise recompute the full
    // shingle->signature pipeline for each side. Signatures are tiny
    // (docs × 32 longs) relative to the corpus — safe to cache at scale.
    val banded = bandedOf(sigs).persist()
    val (capped, overCache) = capBuckets(banded, Seq("band", "bh"), maxBucketSize, "minhash")
    val pairs = capped.as("l").join(capped.as("r"),
        col("l.band") === col("r.band") && col("l.bh") === col("r.bh") &&
          col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"))
      .distinct()
    materialized(pairs, Seq(banded) ++ overCache: _*)
  }

  /** Persist + materialize a (small) result, then free the (large)
    * upstream cached frames. OWNERSHIP CONTRACT: the returned frame is
    * persisted (it must be — the upstream it derives from is unpersisted
    * here, so re-evaluation would recompute the full pipeline); the
    * CALLER owns that cache entry and releases it via `unpersist()` or
    * `spark.catalog.clearCache()` once consumed. Bench/Verify clear the
    * cache between queries for exactly this reason. */
  private[operators] def materialized(result: DataFrame, upstream: DataFrame*): DataFrame = {
    val out = result.persist()
    out.count()
    upstream.foreach(_.unpersist(blocking = false))
    out
  }

  /** Full near-dedup: LSH candidates verified with EXACT n-gram Jaccard;
    * only pairs ≥ threshold survive. Jaccard is a ratio of exact ints —
    * bit-identical in any engine. */
  def minhashNearDups(
      df: DataFrame, idCol: String, textCol: String, threshold: Double = 0.5,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    // The CORPUS never materializes a gram string: signatures and band
    // buckets run on the fused byte-level gram-hash kernel. Gram strings
    // exist only PAIR-SCOPED, in the verify step — candidate pairs are
    // verified on the real gram sets of the docs they name, so the
    // Jaccard is exact BY CONSTRUCTION (no hash-injectivity guard, no
    // fallback branch). Scale: the verify shuffle carries string arrays
    // for PAIR docs only (LSH banding + bucket caps bound the candidate
    // volume); the alternative — hash-array verify guarded by a
    // corpus-wide gram-text distinct — shuffles every gram string in the
    // corpus through a double-distinct Expand, which loses whenever
    // pairs ≪ corpus (measured: the guard job dominated this operator
    // at sf0.1, where 480 of 5000 docs pair).
    val hashed = withGramHashes(df, idCol, textCol).persist()
    val pairs = candidatePairs(signaturesFromHashes(hashed), maxBucketSize)
    val pairDocs = pairs
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id")).distinct()
    // persist: consumed twice below (doc_a and doc_b sides) — without the
    // cache each join re-runs the pair-doc probe join AND the fused
    // shingling of every pair document, the verify step's dominant cost
    val vsets = withShingleSet(
      df.select(col(idCol).as("doc_id"), col(textCol).as("__text")).join(pairDocs, "doc_id"),
      "doc_id", "__text").persist()
    val verified = pairs
      .join(vsets.select(col("doc_id").as("doc_a"), col("sh_set").as("v_a")), "doc_a")
      .join(vsets.select(col("doc_id").as("doc_b"), col("sh_set").as("v_b")), "doc_b")
      .withColumn("inter", size(array_intersect(col("v_a"), col("v_b"))).cast("long"))
      .withColumn("uni",
        size(col("v_a")).cast("long") + size(col("v_b")).cast("long") - col("inter"))
      .withColumn("jaccard", col("inter").cast("double") / col("uni").cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "inter", "uni")
    materialized(verified, hashed, pairs, vsets)
  }

  // ---- Near-dup clusters (connected components) -------------------------

  /** Connected components over a near-dup pair list: every doc is labeled
    * with the smallest doc_id reachable through pairs (its cluster
    * representative).
    *
    * Two paths, one output. A pair list of at most [[LocalPairs]] pairs
    * with integral ids is labelled on the DRIVER: one job collects it,
    * a union-find joins the endpoints, and the labels come back as a
    * local frame — no round, no checkpoint, no cache entry. Anything
    * larger (or with non-integral ids) runs the distributed
    * large-star/small-star rounds (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14): each round is two
    * groupBy+join passes over the edge list, and the edge set converges
    * to per-component stars in O(log n) rounds INDEPENDENT of graph
    * diameter — a pathological near-dup chain (doc A ~ B ~ C ~ …, common
    * in crawl data) converges where min-label propagation needs
    * O(diameter) rounds. Per round:
    *   large-star: every node's LARGER neighbors attach to the minimum
    *     of its closed neighborhood (keeps connectivity, points all
    *     edges downward);
    *   small-star: every node and its smaller neighbors attach to the
    *     smallest of them (contracts chains by halving).
    * Non-convergence within `maxIters` raises rather than returning
    * silently-wrong clusters. DedupSpec pins both paths against each
    * other and against a min-label propagation oracle on random graphs.
    *
    * Where the paths cross: see [[LocalPairs]].
    *
    * Input: (doc_a, doc_b) pairs (e.g. minhashNearDups). Output:
    * (doc_id, cluster_id) for every doc appearing in at least one pair,
    * self-pair-only docs included; both paths give the same schema. A
    * null endpoint joins no edge and its node labels null. The
    * distributed path's labels are a persisted frame the caller may
    * `unpersist`; the driver path's are a local frame, for which that
    * is a no-op. Pair this with an anti-join to drop all but each
    * cluster's keeper. */
  def nearDupClusters(pairs: DataFrame, maxIters: Int = 50): DataFrame =
    nearDupClustersWithRounds(pairs, maxIters)._1

  /** Pair count at or below which [[nearDupClusters]] labels on the
    * driver.
    *
    * Where the paths cross (ms per call with the labels counted, median
    * of 3 after one warm-up, one run for the distributed 10^6 rows;
    * pairs cached in 4 partitions; `local[4]` on a 4-vCPU VM, 3 GB
    * heap; "retained" is the heap still held with the labels alive,
    * after GC):
    *
    * {{{
    *   pairs                   10^3    10^4    10^5    10^6
    *   chain (diameter = pairs)
    *     driver                 266     154     575    5247
    *     distributed           3826    4519    9972   39521   (11-21 rounds)
    *     driver retained MB       0.6     3.4    31     304
    *     distributed retained MB 22      27      63      69
    *   random (both ends uniform in [0, pairs))
    *     driver                  87     122     468    4939
    *     distributed           1530    2118    3933   15585   (5-7 rounds)
    *     driver retained MB       0.6     3.0     8.0    78
    *     distributed retained MB  2.7     3.4    44      20
    * }}}
    *
    * The driver wins on time at every size measured, though the margin
    * shrinks (3× on the random 10^6 graph), so the cap is set by what the
    * driver holds: at 10^6 pairs the local frame retains 78-304 MB and
    * ships ~4 MB with every task that reads it, past Spark's 1000 KiB
    * task-size warning. At 10^5 it holds at most 31 MB and is 8-17×
    * faster than the rounds. Above the cap, the collect that finds the
    * list too long costs ~130 ms before the rounds start (10^6-pair
    * cached chain). */
  private[operators] val LocalPairs = 100000

  /** [[nearDupClusters]] + the large-star/small-star round count it
    * converged in; 0 when the driver labelled the graph. `localPairs`
    * caps the driver path and 0 always distributes, so the O(log n)
    * round pins (DedupSpec, Stress, ScaleProbe, CcProfile) measure
    * rounds and never pass on a driver-path 0. */
  private[graft] def nearDupClustersWithRounds(
      pairs: DataFrame, maxIters: Int = 50,
      localPairs: Int = LocalPairs): (DataFrame, Int) =
    driverClusters(pairs, localPairs).map(_ -> 0)
      .getOrElse(distributedClusters(pairs, maxIters))

  /** Boxes a union-find id back into its column's integral type; None
    * for other id types, which take the distributed path. */
  private def integralId(idType: DataType): Option[Long => Any] = idType match {
    case ByteType => Some((x: Long) => x.toByte)
    case ShortType => Some((x: Long) => x.toShort)
    case IntegerType => Some((x: Long) => x.toInt)
    case LongType => Some((x: Long) => x)
    case _ => None
  }

  /** The components of `pairs` from a union-find on the driver, or None
    * when the ids are not integral or more than `localPairs` pairs come
    * back. The node column's type and nullability are the ones the
    * distributed path's `nodes` union resolves to. */
  private def driverClusters(pairs: DataFrame, localPairs: Int): Option[DataFrame] = {
    val node = pairs.select(col("doc_a").as("doc_id"))
      .union(pairs.select(col("doc_b").as("doc_id"))).schema.head
    integralId(node.dataType).filter(_ => localPairs > 0).flatMap { id =>
      // coalesce(1): one task reads the partitions in turn and stops at
      // the limit, so the driver receives at most localPairs + 1 rows
      // however the pairs are split (without it, every partition's task
      // ships up to the limit)
      val rows = pairs.select("doc_a", "doc_b").coalesce(1).limit(localPairs + 1).collect()
      if (rows.length > localPairs) None
      else {
        val schema = StructType(Seq(node, StructField("cluster_id", node.dataType, node.nullable)))
        Some(pairs.sparkSession.createDataFrame(unionFind(rows, id).asJava, schema))
      }
    }
  }

  /** (doc_id, cluster_id) rows of the components of `pairs`, ids boxed
    * by `id`: a union-find over the sorted distinct endpoints. */
  private def unionFind(pairs: Array[Row], id: Long => Any): Seq[Row] = {
    val ends = new Array[Long](2 * pairs.length)
    var n = 0
    for (r <- pairs; j <- 0 to 1 if !r.isNullAt(j)) {
      ends(n) = r.getAs[Number](j).longValue
      n += 1
    }
    val hasNull = n < ends.length
    java.util.Arrays.sort(ends, 0, n)
    var m = 0
    for (i <- 0 until n if m == 0 || ends(i) != ends(m - 1)) {
      ends(m) = ends(i)
      m += 1
    }
    val ids = java.util.Arrays.copyOf(ends, m)
    val parent = Array.range(0, m)
    def find(x0: Int): Int = { // path halving
      var x = x0
      while (parent(x) != x) {
        parent(x) = parent(parent(x))
        x = parent(x)
      }
      x
    }
    def at(r: Row, j: Int): Int = java.util.Arrays.binarySearch(ids, r.getAs[Number](j).longValue)
    // ids are sorted, so the smaller index is the smaller id and every
    // root stays its component's minimum; a null endpoint joins no edge,
    // as greatest/least drop it on the distributed path
    for (r <- pairs if !r.isNullAt(0) && !r.isNullAt(1)) {
      val (a, b) = (find(at(r, 0)), find(at(r, 1)))
      if (a < b) parent(b) = a else if (b < a) parent(a) = b
    }
    IndexedSeq.tabulate(m)(i => Row(id(ids(i)), id(ids(find(i))))) ++
      (if (hasNull) Some(Row(null, null)) else None)
  }

  /** The large-star/small-star rounds and the round count. */
  private def distributedClusters(pairs: DataFrame, maxIters: Int): (DataFrame, Int) = {
    // canonical downward edges u → v with v < u; self-pairs drop here and
    // are re-labeled as singletons at the end
    var edges = pairs
      .select(greatest(col("doc_a"), col("doc_b")).as("u"),
        least(col("doc_a"), col("doc_b")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      // localCheckpoint (eager) after every round TRUNCATES LINEAGE — the
      // iterative-join pattern otherwise grows the logical plan by one
      // full round per iteration and Catalyst analysis time explodes
      .localCheckpoint(true)
    // (count, order-independent fingerprint) of an edge set in ONE tiny
    // agg job — the convergence gate below compares these first
    def setStats(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)),
        expr("bit_xor(xxhash64(u, v))")).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    var (edgeCount, edgeFp) = setStats(edges)
    var converged = false
    var i = 0
    while (i < maxIters && !converged) {
      // LARGE-STAR over the bidirectional view: for each node u with
      // closed-neighborhood min m, attach every neighbor v > u to m.
      // m ≤ u < v, so outputs stay strictly downward (no self-loops).
      //
      // ONE exchange per star (VERDICT r17 #5): the per-u min comes from
      // a whole-partition WINDOW over hash(u) instead of a groupBy +
      // self-join — the join re-shuffled the same 2|E| rows a second
      // time just to put m back on them, and the window's added
      // per-partition sort is far cheaper than that exchange (10M-pair
      // chain: 282.6 s → measured below 200 s). Skew posture is
      // unchanged: the join, too, clustered every row of a hot u into
      // one partition; the window buffer spills through the external
      // sorter on rows of two longs. (r19 re-derived a downward-only
      // variant — m(u) = min(u, down-neighbors) partial-aggregated, then
      // edges(u,v) → (u, m(v)) via equi-join, halving shuffled rows on
      // dense graphs — but the measured A/B was a wash on a 3M chain and
      // a 1.1-1.3× REGRESSION on the bench's real near-dup graphs: the
      // extra exchange + SMJ stages cost more than the 2|E| window until
      // average degree is large. Kept the window.)
      val bidir = edges.select(col("u"), col("v"))
        .union(edges.select(col("v").as("u"), col("u").as("v")))
      val wU = Window.partitionBy("u")
      val ls = bidir
        .withColumn("m", least(min(col("v")).over(wU), col("u")))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
      // SMALL-STAR over the downward edges: for each node u with parent
      // set N(u) (all < u) and m = min(N(u)), attach u and every other
      // parent to m. v ≠ m ⇒ v > m, so outputs stay strictly downward.
      // The (u,v) dedup RIDES the star's hash(u) exchange (hash(u)
      // clusters (u,v), so the aggregate and the window both reuse it —
      // large-star emits duplicate edges on dense graphs and carrying
      // them into the window would square the round's rows); min is
      // duplicate-blind, so deduping before the window is lossless.
      val next = ls.repartition(col("u")).dropDuplicates("u", "v")
        .withColumn("m", min(col("v")).over(wU))
        .select(when(col("v") === col("m"), col("u")).otherwise(col("v")).as("u"),
          col("m").as("v"))
        .distinct()
        .localCheckpoint(true)
      // Fixed point = identical edge SET (unchanged criterion, cheaper
      // evidence — VERDICT r18 #3): both frames are distinct sets, so
      // |next| = |edges| AND next ⊆ edges ⇔ next = edges. The count is a
      // cache scan of the round's own checkpoint; the subset probe runs
      // ONLY when counts agree (typically the final round), and both
      // sides are localCheckpoints whose hash(u,v) partitioning from the
      // closing distinct is PRESERVED by LogicalRDD, so the anti-join
      // plans with ZERO exchanges. This replaces r17's tagged full-outer
      // join, which re-shuffled + re-sorted the previous edge set and
      // materialized a 4-column frame every round just to prove set
      // equality.
      val (nextCount, nextFp) = setStats(next)
      val changed = nextCount != edgeCount || nextFp != edgeFp ||
        next.join(edges, Seq("u", "v"), "left_anti").limit(1).count() > 0
      edges = next
      edgeCount = nextCount
      edgeFp = nextFp
      converged = !changed
      i += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"nearDupClusters did not converge in $maxIters rounds — raise maxIters")
    // at the fixed point the edges are stars: every non-root points at its
    // component min. Roots and self-pair-only docs label themselves.
    val children = edges.select(col("u").as("doc_id"), col("v").as("cluster_id"))
    val nodes = pairs.select(col("doc_a").as("doc_id"))
      .union(pairs.select(col("doc_b").as("doc_id"))).distinct()
    val labels = nodes.join(children, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
    (materialized(labels), i)
  }

  /** Near-dedup end to end: minhash near-dup pairs → connected components
    * → keep only each cluster's smallest doc_id. Docs in no cluster are
    * kept as-is (left_anti on the non-keeper set — one broadcastable
    * frame of (cluster members − representatives)). */
  def nearDedup(
      df: DataFrame, idCol: String, textCol: String, threshold: Double = 0.5,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    val pairs = minhashNearDups(df, idCol, textCol, threshold, maxBucketSize)
    val clusters = nearDupClusters(pairs)
    val losers = clusters.filter(col("doc_id") =!= col("cluster_id")).select("doc_id")
    val out = df.join(losers.withColumnRenamed("doc_id", idCol), Seq(idCol), "left_anti")
    // the clusters cache can go now: distributed labels are
    // localCheckpoint-backed, so the anti-join re-reads the checkpoint,
    // not the whole CC loop; driver-path labels are a local frame, for
    // which the unpersist is a no-op
    clusters.unpersist(blocking = false)
    pairs.unpersist(blocking = false)
    out
  }

  /** Incremental near-dedup: batch docs that near-duplicate an EXISTING
    * corpus. Candidates come from band-bucket matches between the batch's
    * signatures and the corpus's banded index — never batch×batch, never
    * corpus×corpus — then exact n-gram Jaccard verifies. This is the
    * arriving-data shape at 100 TB: the corpus's banded signature index
    * is computed once (and in production persisted as a table); each
    * incoming batch shingles+signs only itself (row-local, shuffle-free)
    * and probes the index with one bounded join. Only CORPUS buckets are
    * capped — a viral corpus bucket is what makes the probe quadratic.
    *
    * Output: (batch_id, corpus_id, inter, uni) for verified pairs with
    * Jaccard = inter/uni ≥ threshold. */
  def incrementalNearDups(
      batch: DataFrame, corpus: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.5, maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    // both sides sign on the fused gram-hash kernel — no gram string is
    // materialized outside the pair-scoped verify (same design as
    // minhashNearDups: exact-by-construction string verify over pair
    // docs only, no injectivity guard)
    val hB = withGramHashes(batch, idCol, textCol)
    val hC = withGramHashes(corpus, idCol, textCol)
    val bandedC = bandedOf(signaturesFromHashes(hC)).persist()
    val (cappedC, overCache) =
      capBuckets(bandedC, Seq("band", "bh"), maxBucketSize, "incremental")
    // persisted: the two pair-doc projections below and the verify join
    // all consume the candidate list; without the cache the probe join
    // would run three times
    val pairs = bandedOf(signaturesFromHashes(hB)).as("l")
      .join(cappedC.as("r"),
        col("l.band") === col("r.band") && col("l.bh") === col("r.bh"))
      .select(col("l.doc_id").as("batch_id"), col("r.doc_id").as("corpus_id"))
      .distinct()
      .persist()
    val vB = withShingleSet(
      batch.select(col(idCol).as("doc_id"), col(textCol).as("__text"))
        .join(pairs.select(col("batch_id").as("doc_id")).distinct(), "doc_id"),
      "doc_id", "__text")
    val vC = withShingleSet(
      corpus.select(col(idCol).as("doc_id"), col(textCol).as("__text"))
        .join(pairs.select(col("corpus_id").as("doc_id")).distinct(), "doc_id"),
      "doc_id", "__text")
    val verified = pairs
      .join(vB.select(col("doc_id").as("batch_id"), col("sh_set").as("v_a")), "batch_id")
      .join(vC.select(col("doc_id").as("corpus_id"), col("sh_set").as("v_b")), "corpus_id")
      .withColumn("inter", size(array_intersect(col("v_a"), col("v_b"))).cast("long"))
      .withColumn("uni",
        size(col("v_a")).cast("long") + size(col("v_b")).cast("long") - col("inter"))
      .withColumn("jaccard", col("inter").cast("double") / col("uni").cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("batch_id", "corpus_id", "inter", "uni")
    materialized(verified, Seq(bandedC, pairs) ++ overCache: _*)
  }

  /** Per-cluster keeper selection by a PREFERENCE column instead of the
    * smallest-id default: keeps the doc with the greatest `prefCol`
    * (ties → smallest doc_id) in each near-dup cluster. One partial-
    * aggregated max_by per cluster — skew-safe like `exact`. Input is a
    * (doc_id, cluster_id) labeling (nearDupClusters) joined back to the
    * corpus for the preference value. */
  def clusterKeepers(
      df: DataFrame, clusters: DataFrame, idCol: String, prefCol: String): DataFrame =
    clusters
      .join(df.select(col(idCol).as("doc_id"), col(prefCol).as("__pref")), "doc_id")
      .groupBy("cluster_id")
      .agg(
        max_by(col("doc_id"), struct(col("__pref"), (-col("doc_id")).as("__t"))).as("keeper_id"),
        count(lit(1)).as("n_docs"))

  // ---- Exact n-gram Jaccard similarity join (prefix filtering) ----------

  /** EXACT set-similarity self-join: every pair of docs whose word
    * n-gram Jaccard is ≥ `threshold`, found WITHOUT an all-pairs
    * comparison via prefix filtering (the PPJoin family). Under any
    * global total order on tokens, two sets A, B with J(A,B) ≥ τ must
    * share at least one token inside each one's first
    * |S| − ⌈τ·|S|⌉ + 1 tokens: if they shared none in A's prefix, the
    * overlap would fit in A's suffix, o ≤ ⌈τ|A|⌉ − 1 < τ|A|, while
    * J ≥ τ forces o ≥ τ(|A|+|B|)/(1+τ) ≥ τ|A| (using |B| ≥ τ|A|, itself
    * implied by J ≥ τ). Ordering tokens by ascending document frequency
    * makes prefix tokens the RAREST ones, so the candidate buckets the
    * self-join fans out on stay small on natural corpora.
    *
    * Unlike MinHash-LSH this is LOSSLESS — recall is exactly 1 by
    * construction (the DuckDB oracle is plain all-pairs Jaccard) — at
    * the cost of one document-frequency pass over the exploded tokens.
    * Scale shape: explode → partial-agg DF count (bounded by vocabulary)
    * → per-doc window (group size = tokens of one doc) → bucketed
    * self-join on prefix tokens (capped + logged, same contract as the
    * banded joins; a cap only ever drops candidates on adversarial
    * corpora where a >cap-frequency token lands in prefixes, which
    * rarity-ordering avoids) → exact verify as a sorted merge walk over
    * gram-hash sets (guarded corpus-wide by the dfreq ndg column; the
    * collision fallback verifies on the cached gram strings).
    *
    * Cost positioning vs MinHash: a true near-dup pair sharing p prefix
    * tokens is emitted p times before the distinct (MinHash bounds the
    * same fan-out at #bands = 8), so on corpora DOMINATED by
    * near-identical cliques the candidate volume is ~p/8 × MinHash's
    * (measured ~12× on a 10-clique-replicated stress corpus). Run exact
    * dedup first and use MinHash as the scale path on dup-heavy data;
    * this operator is the exactness path — provable recall 1 where LSH
    * recall is probabilistic.
    *
    * Output: (doc_a, doc_b, inter, uni) with inter/uni ≥ threshold,
    * doc_a < doc_b — the same contract as [[minhashNearDups]]. */
  def ngramJaccardDups(
      df: DataFrame, idCol: String, textCol: String, threshold: Double = 0.5,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    val (verified, caches) = ngramJaccardFrames(df, idCol, textCol, threshold, maxBucketSize)
    materialized(verified, caches: _*)
  }

  /** The un-materialized pipeline behind [[ngramJaccardDups]] — split out
    * so specs can pin the physical plan of the full join tree (the public
    * method persists its result, which hides the tree behind a cache
    * scan). Returns (verified pairs, upstream caches to release). */
  private[operators] def ngramJaccardFrames(
      df: DataFrame, idCol: String, textCol: String, threshold: Double,
      maxBucketSize: Int): (DataFrame, Seq[DataFrame]) = {
    // Cached per-doc state: the gram strings (the token explode and the
    // collision fallback read them — exploding the composed shingle
    // arrays is the pipeline's single most expensive map, so it must
    // run ONCE) plus a SORTED hash array for the verify step, so the
    // verify intersect runs as an allocation-free merge walk
    // (SortedIntersectCountQ) instead of a per-row array_intersect
    // hash-set build (measured 4.1 s → 0.6 s on 310k candidates at
    // sf0.1).
    val sets = withShingleSet(df, idCol, textCol)
      .filter(size(col("sh_set")) > 0)
      .withColumn("hs", array_sort(transform(col("sh_set"), s => xxhash64(s))))
      .persist()
    // tokens travel as (hash, string): the 8-byte hash is the shuffle/
    // join key everywhere (a collision only MERGES buckets — extra
    // candidates the verify step discards, exactness preserved); the
    // string rides along solely as the ordering tiebreak, because the
    // prefix principle needs a total order on tokens and hash-tied
    // DISTINCT tokens would make "first p elements" ambiguous
    val tokens = sets.select(
      col("doc_id"), size(col("sh_set")).as("len"), explode(col("sh_set")).as("sh"))
      .withColumn("h", xxhash64(col("sh")))
    // document frequency per token hash — partial aggregation combines
    // map-side, result is vocabulary-sized, not corpus-sized. The
    // collision flag per hash rides along in the SAME aggregation as
    // min(sh) ≠ max(sh): a collision exists iff some hash carries two
    // distinct gram strings, which min/max detect exactly — and unlike
    // the previous countDistinct(sh), min/max partial-aggregate map-side
    // with NO Expand row-doubling, shuffling one string pair per
    // (partition, hash) instead of every distinct gram string (§2.3).
    val dfreq = tokens.groupBy("h")
      .agg(count(lit(1)).as("df"), (min(col("sh")) =!= max(col("sh"))).as("collided"))
      .persist()
    // Exactness guard, checked once per call: if no two DISTINCT grams
    // collide corpus-wide (every hash maps to exactly one gram), per-doc
    // hash sets are faithful images of the gram sets and
    // hash-intersections equal gram intersections EXACTLY — the lossless
    // claim survives. A 64-bit collision (p < 1e-10 at any realistic
    // vocabulary) falls back to string verification, keeping correctness
    // unconditional.
    val hashesFaithful =
      !dfreq.agg(coalesce(max(col("collided")), lit(false))).head().getBoolean(0)
    if (!hashesFaithful)
      logger.warn("[ngram-jaccard] 64-bit gram-hash collision detected — " +
        "verifying on raw gram strings (slower, still exact)")
    // per-doc prefix of length len − ⌈τ·len⌉ + 1 under the global
    // (df, sh) order; the window group is one document's token list
    val w = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("sh"))
    val prefix = tokens.join(dfreq.select(col("h"), col("df")), "h")
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= col("len") - ceil(lit(threshold) * col("len")) + 1)
      .select(col("h"), col("doc_id"), col("len"))
      .persist()
    val (capped, overCache) = capBuckets(prefix, Seq("h"), maxBucketSize, "ngram-jaccard")
    // candidate pairs share a prefix token and pass the length filter
    // (J ≥ τ ⟹ τ·|A| ≤ |B| ≤ |A|/τ)
    val pairs = capped.as("l").join(capped.as("r"),
        col("l.h") === col("r.h") && col("l.doc_id") < col("r.doc_id") &&
          col("r.len") >= ceil(lit(threshold) * col("l.len")) &&
          col("l.len") >= ceil(lit(threshold) * col("r.len")))
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"))
      .distinct()
    val vcol = if (hashesFaithful) "hs" else "sh_set"
    def inter(a: Column, b: Column): Column =
      if (hashesFaithful)
        // sorted merge walk over the cached hash arrays — duplicates
        // count once, exactly array_intersect's distinct-values contract
        graft.functions.VectorFunctions.sortedIntersectCountQ(a, b)
      else size(array_intersect(a, b)).cast("long")
    val verified = pairs
      .join(sets.select(col("doc_id").as("doc_a"), col(vcol).as("v_a")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col(vcol).as("v_b")), "doc_b")
      .withColumn("inter", inter(col("v_a"), col("v_b")))
      .withColumn("uni",
        size(col("v_a")).cast("long") + size(col("v_b")).cast("long") - col("inter"))
      .filter(col("inter").cast("double") / col("uni").cast("double") >= threshold)
      .select("doc_a", "doc_b", "inter", "uni")
    (verified, Seq(sets, dfreq, prefix) ++ overCache)
  }

  // ---- Chunk-level (passage) dedup --------------------------------------

  /** Chunk-level exact dedup — passage/paragraph dedup for corpora whose
    * documents carry no explicit paragraph breaks (the span-dedup
    * protocol of Lee et al., "Deduplicating Training Data Makes Language
    * Models Better": repeated passages are removed everywhere but their
    * first occurrence, while the surrounding document survives). Each
    * document is split into fixed `chunkWords`-word chunks; for every
    * distinct chunk text only the corpus-first occurrence (smallest
    * (doc id, chunk index)) survives; documents are reassembled from
    * their surviving chunks in order.
    *
    * Output: (doc_id, n_chunks, n_kept, text_kept) — text_kept is the
    * space-joined surviving chunks ("" when every chunk of the doc
    * appeared earlier elsewhere). Integer counts + exact strings: the
    * whole operator is mirrorable bit-for-bit in SQL.
    *
    * Scale: chunks shuffle ONCE on chunk text for the first-occurrence
    * aggregation — `min(struct(doc, idx))` partial-aggregates, so a
    * boilerplate chunk duplicated 10^8 times combines map-side instead
    * of funneling into one task — then once on doc_id for reassembly
    * (bounded: one row per SURVIVING chunk, at most one per distinct
    * chunk text corpus-wide). Never a self-join, no candidate blowup. */
  def chunkDedup(df: DataFrame, idCol: String, textCol: String,
      chunkWords: Int = 32): DataFrame = {
    require(chunkWords > 0, s"chunkWords must be positive: $chunkWords")
    val words = split(col(textCol), " ")
    val nChunks = ceil(size(words).cast("double") / chunkWords).cast("long")
    val base = df.select(col(idCol).as("doc_id"), words.as("__ws"), nChunks.as("n_chunks"))
    val chunks = base
      .select(col("doc_id"),
        posexplode(expr(
          s"transform(sequence(CAST(0 AS BIGINT), n_chunks - 1), i -> array_join(slice(__ws, CAST(i AS INT) * $chunkWords + 1, $chunkWords), ' '))")))
      .select(col("doc_id"), col("pos").cast("long").as("chunk_idx"), col("col").as("chunk"))
    // one row per DISTINCT chunk text: its first (doc, idx) occurrence —
    // no join-back needed, the survivors ARE the aggregation result
    val survivors = chunks
      .groupBy(col("chunk"))
      .agg(min(struct(col("doc_id"), col("chunk_idx"))).as("first"))
      .select(col("first.doc_id").as("doc_id"), col("first.chunk_idx").as("chunk_idx"),
        col("chunk"))
    val reassembled = survivors
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("chunk_idx"), col("chunk")))),
            x => x.getField("chunk")), " ").as("text_kept"))
    base.select(col("doc_id"), col("n_chunks"))
      .join(reassembled, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chunks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("text_kept"), lit("")).as("text_kept"))
  }

  // ---- SimHash ----------------------------------------------------------

  /** doc_id → 64-bit SimHash over word 3-gram shingles: per-feature hash
    * votes ±1 on each bit; the sign of each bit-sum forms the fingerprint.
    * Shingles (not unigrams) are the features — on corpora with a shared
    * vocabulary unigram sets are near-identical across documents and carry
    * no signal. One explode + 64 partial-aggregated vote sums: each
    * feature is hashed exactly once (an inline per-bit fold would
    * re-evaluate the shingle array 64× per row). */
  private object SimhashVoteAgg extends Aggregator[Long, Array[Int], Long] {
    override def zero: Array[Int] = new Array[Int](64)
    override def reduce(b: Array[Int], h: Long): Array[Int] = {
      var i = 0
      while (i < 64) { b(i) += (if (((h >>> i) & 1L) == 1L) 1 else -1); i += 1 }
      b
    }
    override def merge(a: Array[Int], b: Array[Int]): Array[Int] = {
      var i = 0
      while (i < 64) { a(i) += b(i); i += 1 }
      a
    }
    override def finish(v: Array[Int]): Long = {
      var sig = 0L
      var i = 0
      while (i < 64) { if (v(i) > 0) sig |= (1L << i); i += 1 }
      sig
    }
    override def bufferEncoder: Encoder[Array[Int]] = ExpressionEncoder()
    override def outputEncoder: Encoder[Long] = Encoders.scalaLong
  }

  /** Row-local SimHash: per doc, hash each shingle once, then per bit i
    * set the bit iff strictly more shingle hashes have bit i set than
    * clear (2·pos > total ⇔ pos − neg > 0). Same values as the
    * explode→vote-aggregator path (property-pinned in DedupSpec), but a
    * narrow shuffle-free map over the corpus, with the 64-bit vote loop
    * fused into one native codegen'd pass (`simhash64` — the HOF
    * formulation below re-traverses the hash array 64× per row
    * interpreted; this was the whole cost of the sf0.1 simhash bench).
    *
    * Feature hash is the engine-portable `polyhash60` (exact BIGINT
    * arithmetic, bits 60-63 always clear) rather than xxhash64 — same
    * near-dup behavior, but an oracle engine can now rebuild the entire
    * signature bit-for-bit, which upgrades the simhash harness query from
    * rows-only to a strict hash-checked oracle. */
  def simhashSignatures(df: DataFrame, idCol: String, textCol: String): DataFrame =
    // fused kernel: one O(len) pass emits the distinct grams' polyhash60
    // values directly (no gram-string materialization, no array_distinct
    // over strings); bit-identical to the composed withShingleSet →
    // transform(polyhash60) path (DedupSpec pin), so the banded join and
    // every simhash oracle are unchanged. Null text → null hashes →
    // dropped, mirroring what the composed path's size filter did.
    df.select(col(idCol).as("doc_id"),
        graft.functions.VectorFunctions.wordGramHash60(col(textCol), 3).as("__hs"))
      .filter(size(col("__hs")) > 0)
      .select(col("doc_id"),
        graft.functions.VectorFunctions.simhash64(col("__hs")).as("sig"))

  /** Portable HOF formulation of the 60-bit feature hash — semantics
    * oracle for the native `polyhash60` (DedupSpec pins bit-equality);
    * not on any hot path. Same slice-to-length trick as the Bloom gram
    * hash (split's trailing "" would add a spurious ×31/×131 round). */
  private[operators] def polyhash60ViaHof(s: Column): Column = {
    val chars = slice(split(s, ""), lit(1), length(s))
    val h1 = aggregate(chars, lit(0L),
      (a, c) => (a * 31L + ascii(c).cast("long")) % 1000000007L)
    val h2 = aggregate(chars, lit(0L),
      (a, c) => (a * 131L + ascii(c).cast("long")) % 998244353L)
    h2 * 1073741824L + h1
  }

  /** The portable HOF formulation — semantics oracle for the native
    * expression (DedupSpec pins bit-equality); not on any hot path. */
  private[operators] def simhashSignaturesViaHof(
      df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val hs = col("__hs")
    val total = size(hs).cast("long")
    val sig = aggregate(sequence(lit(0), lit(63)), lit(0L), (acc, i) => {
      val pos = size(filter(hs, h =>
        call_function("shiftright", h, i).bitwiseAND(lit(1L)) === lit(1L))).cast("long")
      acc.bitwiseOR(
        when(pos * 2 > total, call_function("shiftleft", lit(1L), i)).otherwise(lit(0L)))
    })
    withShingleSet(df, idCol, textCol)
      .filter(size(col("sh_set")) > 0)
      .withColumn("__hs", transform(col("sh_set"), sh => polyhash60ViaHof(sh)))
      .select(col("doc_id"), sig.as("sig"))
  }

  /** The shuffle-based vote-aggregator path — test oracle for the
    * row-local simhash (DedupSpec pins bit-equality). */
  private[operators] def simhashViaAggregator(df: DataFrame, idCol: String, textCol: String): DataFrame =
    withShingleSet(df, idCol, textCol)
      .select(col("doc_id"), explode(col("sh_set")).as("sh"))
      .withColumn("h", graft.functions.VectorFunctions.polyhash60(col("sh")))
      .groupBy("doc_id")
      .agg(udaf(SimhashVoteAgg).apply(col("h")).as("sig"))

  // ---- Duplicated-span coverage (exact substring statistics) ------------

  /** Per-document duplicated-span coverage — the corpus-diagnostic of
    * Lee et al., "Deduplicating Training Data Makes Language Models
    * Better": how much of each document consists of exact character
    * spans of length `spanLen` that also occur in OTHER documents. A
    * position i of a document is *duplicated* when the `spanLen`-char
    * substring starting at i appears in at least two distinct documents
    * corpus-wide (repetition *within* one document does not count — the
    * frequency is a document frequency, not an occurrence count).
    *
    * Output: (doc_id, n_positions, dup_positions) with
    * n_positions = len − spanLen + 1 (docs shorter than spanLen are
    * dropped — they have no spans); dup_positions ∈ [0, n_positions].
    * Integer-only columns: bit-for-bit mirrorable in SQL.
    *
    * Scale: never a self-join and never a pair blowup — a boilerplate
    * span shared by 10^8 documents contributes counts, not pairs. The
    * exploded positions (one row per character, ~corpus size) shuffle
    * twice on the span key: once into the per-(doc, span) aggregation,
    * once for the duplicate-key probe; both aggregations partial-combine
    * map-side, so hot spans fold before the exchange. The duplicate-key
    * set is vocabulary-sized and probes as a left-semi hash join (AQE
    * skew-safe), NOT a window over the span key — a count(*) window
    * cannot partial-aggregate, so one ultra-hot span would funnel its
    * entire position list into a single task. With `hashedShingles`
    * (the 100 TB default) the shuffle key is the 8-byte xxhash64 of the
    * span instead of the `spanLen`-byte string — a hash collision can
    * only over-count a position as duplicated (merging two span groups),
    * p < 1e-10 at any realistic span vocabulary; pass `false` for the
    * exact-string keys the strict harness oracle mirrors. */
  def duplicatedSpanStats(df: DataFrame, idCol: String, textCol: String,
      spanLen: Int = 40, hashedShingles: Boolean = true): DataFrame = {
    require(spanLen > 0, s"spanLen must be positive: $spanLen")
    val t = col("__t")
    val base = df
      .select(col(idCol).as("doc_id"), col(textCol).as("__t"))
      .filter(t.isNotNull && length(t) >= spanLen)
    // hashed mode (the scale default): one generated O(n) rolling-hash
    // pass emits an 8-byte key per span position — the substring
    // materialization (O(n·spanLen) bytes per doc BEFORE the explode)
    // only happens in exact mode, where the DuckDB oracle needs the
    // literal strings
    val pos =
      if (hashedShingles)
        base.select(col("doc_id"),
          explode(org.apache.spark.sql.graft.VectorBridge.rollingHash60(t, spanLen)).as("k"))
      else
        base.select(col("doc_id"),
          explode(transform(sequence(lit(1), length(t) - lit(spanLen - 1)),
            i => t.substr(i, lit(spanLen)))).as("k"))
    val perDoc = pos.groupBy("doc_id", "k").agg(count(lit(1)).as("c"))
    // document frequency per span key: perDoc is already distinct by
    // (doc, key), so count(*) counts documents
    val dupKeys = perDoc.groupBy("k").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2).select("k")
    val dupPerDoc = perDoc.join(dupKeys, Seq("k"), "left_semi")
      .groupBy("doc_id").agg(sum(col("c")).as("dup_positions"))
    base.select(col("doc_id"),
        (length(t) - lit(spanLen - 1)).cast("long").as("n_positions"))
      .join(dupPerDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_positions"),
        coalesce(col("dup_positions"), lit(0L)).as("dup_positions"))
  }

  /** MAXIMAL duplicated spans (VERDICT r14 #7) — the variable-length form
    * of [[duplicatedSpanStats]]: fixed `spanLen`-char windows mark
    * duplicated POSITIONS (span key frequency > 1 corpus-wide, same-doc
    * repeats included), then adjacent/overlapping duplicated windows
    * MERGE into maximal spans — Lee et al.'s "maximal duplicated
    * substring" regions at window granularity (a duplicated region of
    * length L ≥ spanLen yields one merged span of exactly L, because
    * every window inside it is duplicated and consecutive windows chain).
    *
    * Output: (doc_id, orig_len, n_spans, dup_chars, max_span) — exact
    * integers, SQL-mirrorable (the oracle rebuilds the rolling hash and
    * replays the merge with the same window functions).
    *
    * Scale: never a self-join — frequency is a map-side-combined count
    * per span key; the merge is windows over ONE doc_id exchange (both
    * window specs and the final groupBy share the partitioning), with
    * per-row coverage deltas instead of a per-span-id second shuffle:
    *   contribution of a sorted position = (s+spanLen) − max(prevCov, s)
    *   (coverage is monotone, so this telescopes to the interval union);
    *   span starts are rows with s > prevCov; a span's length reads off
    *   its LAST row as (s+spanLen) − runningMax(break-row starts). */
  def maximalDupSpans(df: DataFrame, idCol: String, textCol: String,
      spanLen: Int = 40, hashedShingles: Boolean = true): DataFrame = {
    require(spanLen > 0, s"spanLen must be positive: $spanLen")
    val t = col("__t")
    val base = df.select(col(idCol).as("doc_id"), col(textCol).as("__t"))
      .filter(t.isNotNull)
    val pos = spanPositions(df, idCol, textCol, spanLen, hashedShingles)
    val dupKeys = pos.groupBy(col("k"))
      .agg(count(lit(1)).as("c")).filter(col("c") > 1).select("k")
    val dups = pos.join(dupKeys, Seq("k")).select(col("doc_id"), col("s"))
    val wPrev = Window.partitionBy("doc_id").orderBy("s")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.partitionBy("doc_id").orderBy("s")
    val perDoc = dups
      .withColumn("prevCov", coalesce(max(col("s") + spanLen).over(wPrev), lit(0L)))
      .withColumn("brk", when(col("s") > col("prevCov"), 1L).otherwise(0L))
      // start of the CURRENT maximal span = the latest break row's s
      .withColumn("spanStart",
        max(when(col("brk") === 1L, col("s"))).over(wRun))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("brk")).as("n_spans"),
        sum(col("s") + spanLen - greatest(col("prevCov"), col("s"))).as("dup_chars"),
        max(col("s") + spanLen - col("spanStart")).as("max_span"))
    base.join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), length(t).cast("long").as("orig_len"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_chars"), lit(0L)).as("dup_chars"),
        coalesce(col("max_span"), lit(0L)).as("max_span"))
  }

  /** Exact-substring span REMOVAL — completes the Lee et al.
    * ("Deduplicating Training Data Makes Language Models Better")
    * pipeline: [[duplicatedSpanStats]] measures duplicated spans; this
    * operator CUTS them. Every `spanLen`-char span occurrence that is
    * not the corpus-FIRST occurrence of its span text (first = smallest
    * (doc_id, start), within-document repeats included) is removed; a
    * character survives iff no removed span covers it; each document is
    * reassembled from its surviving characters in order.
    *
    * Output: (doc_id, orig_len, kept_len, text_kept) — exact strings and
    * integer lengths, bit-for-bit mirrorable in SQL. Docs shorter than
    * `spanLen` have no spans and survive whole.
    *
    * Scale: never a self-join, never a pair blowup — like t38, a
    * boilerplate span shared by 10^8 docs contributes one first-owner
    * row, not pairs. Stages: (1) span keys per position (the same
    * codegen'd O(n) `RollingHash60` pass; exact substrings only when the
    * oracle needs literal strings), (2) first-occurrence `min(struct)`
    * aggregation — partial-combines map-side, so hot spans fold before
    * the exchange, (3) hash join back to tag non-first occurrences, (4)
    * per-doc interval union via a running covered-max window (one
    * shuffle on doc_id; O(cut spans) per doc, never O(len·spanLen)
    * position explosion), (5) ordered gap reassembly through substr on
    * the original text. A hash collision in hashed mode can only merge
    * two span groups — i.e. over-cut, never resurrect (p < 1e-10 at
    * realistic span vocabularies). */
  def dedupSpans(df: DataFrame, idCol: String, textCol: String,
      spanLen: Int = 40, hashedShingles: Boolean = true): DataFrame = {
    require(spanLen > 0, s"spanLen must be positive: $spanLen")
    val base = df.select(col(idCol).as("doc_id"), col(textCol).as("__t"))
      .filter(col("__t").isNotNull)
    val pos = spanPositions(df, idCol, textCol, spanLen, hashedShingles)
    val firsts = pos.groupBy(col("k"))
      .agg(min(struct(col("doc_id"), col("s"))).as("f"))
    val cuts = pos.join(firsts, Seq("k"))
      .filter(!(col("doc_id") === col("f.doc_id") && col("s") === col("f.s")))
      .select(col("doc_id"), col("s"), (col("s") + spanLen).as("e"))
    reassembleAfterCuts(base, cuts)
  }

  // ---- Winnowing fingerprints (Schleimer/Wilkerson/Aiken, the MOSS scheme) --

  /** Winnowing document fingerprints: over the doc's `spanLen`-char
    * rolling-hash sequence, every length-`window` window contributes its
    * minimum hash (ties → RIGHTMOST position — the standard winnowing
    * tie-break), and the fingerprint set is the distinct selected
    * (position, hash) pairs. Guarantee (Schleimer et al.): any substring
    * of length ≥ `window + spanLen − 1` shared between two documents
    * shares at least one fingerprint HASH — so fingerprints are a
    * density-bounded candidate index (expected 2/(window+1) of positions)
    * for plagiarism/overlap detection. Docs shorter than a full window
    * of hashes contribute their global minimum (one fingerprint); docs
    * shorter than `spanLen` contribute nothing. Returns
    * (doc_id, fp_pos, fp_k), fp_pos 1-based.
    *
    * Scale shape: per-window argmin is `min(struct(k, −s))` over a
    * sliding rows frame — the frame, the doc-size max, and the start
    * validity all ride ONE doc_id sort-exchange; the closing distinct
    * aggregates the already-thinned selections (~2·positions/(window+1)
    * rows). Never a per-window explode: O(n) rows regardless of
    * `window`. */
  def winnowFingerprints(
      df: DataFrame, idCol: String, textCol: String,
      spanLen: Int = 40, window: Int = 8,
      hashedShingles: Boolean = true): DataFrame = {
    require(window >= 1, s"window must be >= 1: $window")
    if (hashedShingles) {
      // scale path: the codegen'd O(m) monotonic-deque kernel selects
      // per-doc positions with ZERO exchanges — selection is a pure
      // array computation over the rolling-hash sequence, already
      // position-distinct, so the whole corpus winnows scan-side
      val b = org.apache.spark.sql.graft.VectorBridge
      df.select(col(idCol).as("doc_id"), col(textCol).as("__t"))
        .filter(col("__t").isNotNull && length(col("__t")) >= spanLen)
        .select(col("doc_id"), b.rollingHash60(col("__t"), spanLen).as("__hs"))
        .select(col("doc_id"), col("__hs"),
          explode(b.winnowSelect(col("__hs"), window)).as("fp_pos"))
        .select(col("doc_id"), col("fp_pos"),
          element_at(col("__hs"), col("fp_pos").cast("int")).as("fp_k"))
    } else
      winnowViaWindow(spanPositions(df, idCol, textCol, spanLen, hashedShingles = false),
        window)
  }

  /** Generic window-frame winnowing over (doc_id, s, k) position rows —
    * the semantics reference for [[winnowFingerprints]]'s kernel path
    * (pinned equal in DedupSpec) and the plan for non-long span keys
    * (exact substrings). One doc_id sort-exchange; O(m·window) frame
    * recomputation — correct at any scale, but the kernel path is the
    * one to use when keys are rolling hashes. */
  private[operators] def winnowViaWindow(pos: DataFrame, window: Int): DataFrame = {
    val byDoc = Window.partitionBy("doc_id")
    val frame = byDoc.orderBy("s").rowsBetween(Window.currentRow, window - 1)
    pos.select(col("doc_id"), col("s"),
        min(struct(col("k"), (-col("s")).as("ns"))).over(frame).as("__sel"),
        max(col("s")).over(byDoc).as("__m"))
      // full windows only; a doc with fewer than `window` hashes keeps
      // its s=1 row, whose short frame spans the whole doc (global min)
      .filter(col("s") === 1 || col("s") <= col("__m") - (window - 1))
      .select(col("doc_id"),
        (-col("__sel.ns")).as("fp_pos"), col("__sel.k").as("fp_k"))
      .distinct()
  }

  /** Winnowing candidate pairs: documents sharing ≥ `minShared` distinct
    * fingerprint hashes, with hashes present in more than `maxDocFreq`
    * documents dropped first (MOSS's boilerplate guard — a fingerprint
    * every doc carries indicts nothing and would otherwise create a
    * quadratic hot bucket). Returns (doc_a, doc_b, shared_fps), a < b.
    *
    * Scale shape: the doc-frequency aggregate partial-combines map-side;
    * the self-join keys on the 8-byte fingerprint hash whose per-key
    * width is ≤ maxDocFreq BY CONSTRUCTION, so pair fan-out per hash is
    * capped at C(maxDocFreq, 2); text never shuffles. */
  def winnowCandidates(
      df: DataFrame, idCol: String, textCol: String,
      spanLen: Int = 40, window: Int = 8,
      minShared: Int = 1, maxDocFreq: Int = 50): DataFrame = {
    // distinct (doc_id, fp_k) computed SCAN-SIDE (guide §2.3 — pre-
    // aggregate before the wide exchange): winnowing repeats a hash at
    // several selected positions of the same doc, so the doc-local
    // array_distinct over the kernel's selections makes the pairs
    // globally distinct with ZERO exchange — the previous
    // winnowFingerprints(...).distinct() shuffled every corpus
    // fingerprint once just to drop those doc-local repeats
    val b = org.apache.spark.sql.graft.VectorBridge
    val fps = df.select(col(idCol).as("doc_id"), col(textCol).as("__t"))
      .filter(col("__t").isNotNull && length(col("__t")) >= spanLen)
      .select(col("doc_id"), b.rollingHash60(col("__t"), spanLen).as("__hs"))
      .select(col("doc_id"), explode(array_distinct(
          transform(b.winnowSelect(col("__hs"), window),
            p => element_at(col("__hs"), p.cast("int"))))).as("fp_k"))
    val rare = fps.groupBy("fp_k")
      .agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxDocFreq)
      .select("fp_k")
    val kept = fps.join(rare, Seq("fp_k"), "left_semi")
    kept.as("x").join(kept.as("y"),
        col("x.fp_k") === col("y.fp_k") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared_fps"))
      .filter(col("shared_fps") >= minShared)
  }

  /** Every `spanLen`-char span occurrence of every doc with len ≥ spanLen:
    * (doc_id, s, k), s 1-based; k is the codegen'd O(n) `RollingHash60`
    * key at scale, or the exact substring when the caller needs literal
    * strings. Shared by [[dedupSpans]] (t48), [[maximalDupSpans]] (t52)
    * and Decontamination.removeEvalSpans (t55). */
  private[graft] def spanPositions(df: DataFrame, idCol: String, textCol: String,
      spanLen: Int, hashedShingles: Boolean): DataFrame = {
    require(spanLen > 0, s"spanLen must be positive: $spanLen")
    val t = col("__t")
    val spanned = df.select(col(idCol).as("doc_id"), col(textCol).as("__t"))
      .filter(t.isNotNull)
      .filter(length(t) >= spanLen)
    if (hashedShingles)
      spanned.select(col("doc_id"), posexplode(
          org.apache.spark.sql.graft.VectorBridge.rollingHash60(t, spanLen)))
        .select(col("doc_id"), (col("pos") + 1).cast("long").as("s"),
          col("col").as("k"))
    else
      spanned.select(col("doc_id"), posexplode(
          transform(sequence(lit(1), length(t) - lit(spanLen - 1)),
            i => t.substr(i, lit(spanLen)))))
        .select(col("doc_id"), (col("pos") + 1).cast("long").as("s"),
          col("col").as("k"))
  }

  /** Interval-union removal + ordered gap reassembly (the t48 tail):
    * given cut spans (doc_id, s, e) over `base` (doc_id, __t), every
    * character covered by any cut is removed and each doc reassembles
    * from its surviving segments — running covered-max over start-ordered
    * cuts; the gap extraction, the per-doc covered-max, and the
    * segment-list build all ride the WINDOW's doc_id exchange (one
    * shuffle for the whole reassembly plan; the groupBy reuses the
    * window's hash partitioning). Output: (doc_id, orig_len, kept_len,
    * text_kept). */
  private[graft] def reassembleAfterCuts(base: DataFrame, cuts: DataFrame): DataFrame = {
    val t = col("__t")
    val w = Window.partitionBy("doc_id").orderBy("s", "e")
      .rowsBetween(Window.unboundedPreceding, -1)
    val perDoc = cuts
      .withColumn("prevCov", coalesce(max(col("e")).over(w), lit(1L)))
      .groupBy(col("doc_id"))
      .agg(
        max(col("e")).as("cov"),
        // collect_list drops nulls: non-gap rows contribute nothing
        array_sort(collect_list(when(col("s") > col("prevCov"),
          struct(col("prevCov").as("segStart"),
            (col("s") - col("prevCov")).as("segLen"))))).as("gaps"))
    base
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        length(t).cast("long").as("orig_len"),
        // cov null = no cut span touches this doc → kept whole; the tail
        // segment [cov, len] derives inline; a fully-covered doc has no
        // gaps and cov > len → ""
        when(col("cov").isNull, t).otherwise(concat(
          expr("array_join(transform(gaps, x -> substr(__t, " +
            "CAST(x.segStart AS INT), CAST(x.segLen AS INT))), '')"),
          when(col("cov") <= length(t),
            substr(t, col("cov").cast("int"),
              (length(t).cast("long") - col("cov") + 1).cast("int")))
            .otherwise(lit("")))).as("text_kept"))
      .select(col("doc_id"), col("orig_len"),
        length(col("text_kept")).cast("long").as("kept_len"), col("text_kept"))
  }

  /** Near-dup clusters by identical SimHash band (15-bit quarters over
    * the 60 effective signature bits — polyhash60 features leave bits
    * 60-63 always clear, so 16-bit quarters would waste a quarter of
    * band 3's bucket entropy on constant bits): pairs whose simhashes
    * agree on ≥1 of 4 bands, verified by hamming distance ≤ maxHamming.
    * Exactness is unchanged: hamming ≤ 3 over 4 disjoint bands covering
    * every bit that can differ still pigeonholes into ≥1 equal band. */
  def simhashNearDups(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    // persist: the banded self-join would otherwise recompute the whole
    // shingle->vote aggregation per side; signatures are docs × 1 long
    val banded = simhashSignatures(df, idCol, textCol)
      .select(col("doc_id"), col("sig"),
        explode(array((0 until 4).map(b =>
          struct(lit(b).as("band"),
            shiftright(col("sig"), b * 15).bitwiseAND(0x7FFFL).as("bh"))): _*)).as("bb"))
      .select(col("doc_id"), col("sig"), col("bb.band"), col("bb.bh"))
      .persist()
    val (capped, overCache) = capBuckets(banded, Seq("band", "bh"), maxBucketSize, "simhash")
    val hamming = {
      val x = col("l.sig").bitwiseXOR(col("r.sig"))
      bit_count(x)
    }
    val result = capped.as("l").join(capped.as("r"),
        col("l.band") === col("r.band") && col("l.bh") === col("r.bh") &&
          col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"),
        hamming.as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
    materialized(result, Seq(banded) ++ overCache: _*)
  }

  /** Vocabulary typo pairs: distinct word pairs (w1 < w2) within
    * Levenshtein distance 1 — the data-cleaning primitive behind typo
    * normalization and OCR-noise detection (SymSpell's scheme).
    *
    * Candidate generation is the 1-deletion neighborhood: every word
    * emits itself plus its len 1-char-deletion variants. Two words
    * within distance 1 ALWAYS share a variant — substitution at i: both
    * delete i; insertion/deletion: the longer's deletion IS the shorter
    * (its identity variant) — so the variant equi-join is candidate-
    * complete without an all-pairs product. Collisions that are NOT
    * within distance 1 exist ("ab"/"ba" share variants "a" and "b" at
    * distance 2), so candidates verify with the codegen'd levenshtein
    * builtin before dedup.
    *
    * Scale: keys per word = len+1 (bounded by `minLen ≥ 4` dropping the
    * short-word cliques), the join shuffles (variant, word) pairs only —
    * vocabulary-sized, never corpus-sized — and verification runs inside
    * the join's codegen stage. */
  def typoPairs(words: DataFrame, wordCol: String, minLen: Int = 4): DataFrame = {
    val vocab = words.select(col(wordCol).as("w"))
      .filter(length(col("w")) >= minLen).distinct()
    // identity + all 1-deletions, deduped (doubled letters collapse)
    val variants = vocab.select(col("w"), explode(expr(
      "array_union(array(w), transform(sequence(1, length(w)), " +
        "i -> concat(substr(w, 1, i-1), substr(w, i+1, length(w)))))")).as("v"))
      .persist()
    val result = variants.as("a").join(variants.as("b"),
        col("a.v") === col("b.v") && col("a.w") < col("b.w"))
      .select(col("a.w").as("w1"), col("b.w").as("w2"))
      .distinct()
      .filter(levenshtein(col("w1"), col("w2")) <= 1)
    materialized(result, variants)
  }
}
