package graft.operators

import graft.delta.TestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Correctness + scale-safety pins for the dedup operators (VERDICT r2
  * items 2-4): simhash gets a machine-checked quality signal, banded
  * joins get bounded behavior on adversarial corpora, and exact dedup
  * partial-aggregates instead of funneling hot keys into one task. */
class DedupSpec extends AnyFunSuite {
  private lazy val spark = TestBase.spark
  private val docs = "/root/testdata/sf0.001/documents.parquet"

  /** simhash's banded hamming join is EXACT for maxHamming < #bands:
    * ≤3 differing bits across 4 16-bit bands leave ≥1 band identical
    * (pigeonhole), so the banded result must equal brute-force all-pairs
    * hamming — not approximately, exactly. */
  test("simhash banded join equals brute-force hamming (maxHamming=3, sf0.001)") {
    val d = spark.read.parquet(docs)
    val banded = Dedup.simhashNearDups(d, "doc_id", "text", maxHamming = 3)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val sigs = Dedup.simhashSignatures(d, "doc_id", "text")
    val brute = sigs.as("l").join(sigs.as("r"), col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id"), col("r.doc_id"),
        bit_count(col("l.sig").bitwiseXOR(col("r.sig"))).as("h"))
      .filter(col("h") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    assert(banded == brute,
      s"banded=${banded.size} brute=${brute.size}; " +
        s"missing=${(brute -- banded).take(5)} extra=${(banded -- brute).take(5)}")
    assert(brute.nonEmpty, "pin is vacuous: corpus has no hamming<=3 pairs")
    spark.catalog.clearCache()
  }

  /** The row-local (shuffle-free) signature paths must be BIT-IDENTICAL
    * to the independent explode→aggregator implementations — same hash
    * math, different execution. Corpus includes short docs (< n words),
    * repeated words, and single-word docs to hit the shingling edges. */
  test("row-local minhash and simhash signatures equal the aggregator paths bit-for-bit") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val vocab = Array.fill(300)("w" + rnd.nextInt(50000))
    val texts = (1L to 300L).map { id =>
      val n = 1 + rnd.nextInt(80)
      (id, Seq.fill(n)(vocab(rnd.nextInt(vocab.length))).mkString(" "))
    }
    val df = texts.toDF("doc_id", "text")

    val sets = Dedup.withShingleSet(df, "doc_id", "text")
    val rowLocal = Dedup.signaturesFromShingleSets(sets)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val viaAgg = Dedup.signaturesViaAggregator(sets)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(rowLocal.keySet == viaAgg.keySet)
    assert(rowLocal.forall { case (k, v) => viaAgg(k) == v },
      s"first mismatch: ${rowLocal.find { case (k, v) => viaAgg(k) != v }}")
    // and the fused byte-level path (WordGramXxhash64 → MinhashSigQ) —
    // the hot path minhashSignatures now runs — is bit-identical too
    val viaKernel = Dedup.signaturesFromHashes(Dedup.withGramHashes(df, "doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(rowLocal.keySet == viaKernel.keySet)
    assert(rowLocal.forall { case (k, v) => viaKernel(k) == v },
      s"fused kernel diverges: ${rowLocal.find { case (k, v) => viaKernel(k) != v }}")

    val simRowLocal = Dedup.simhashSignatures(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val simViaAgg = Dedup.simhashViaAggregator(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(simRowLocal == simViaAgg,
      s"first mismatch: ${simRowLocal.find { case (k, v) => simViaAgg(k) != v }}")
    // and the native fused expression equals the interpreted HOF fold
    val simViaHof = Dedup.simhashSignaturesViaHof(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(simRowLocal == simViaHof,
      s"native simhash64 diverges from HOF: ${simRowLocal.find { case (k, v) => simViaHof(k) != v }}")
    // and the native polyhash60 feature hash equals its HOF formulation
    // directly, with bits 60-63 clear (the oracle-portability contract)
    val hashPairs = df.select(
        graft.functions.VectorFunctions.polyhash60(col("text")).as("native"),
        Dedup.polyhash60ViaHof(col("text")).as("hof"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(hashPairs.forall { case (n, h) => n == h },
      s"polyhash60 native vs HOF mismatch: ${hashPairs.find { case (n, h) => n != h }}")
    assert(hashPairs.forall { case (n, _) => n >= 0L && (n >>> 60) == 0L },
      "polyhash60 must stay within 60 bits")
  }

  /** Incremental dedup reports batch-vs-corpus pairs ONLY: planted
    * cross-split near-dups are recovered; a near-dup pair entirely inside
    * the batch (or corpus) is not this operator's job and must not
    * appear. */
  test("incrementalNearDups finds cross-split pairs and never batch×batch") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val vocab = Array.fill(500)("w" + rnd.nextInt(90000))
    def doc(seed: Long) = {
      val r = new scala.util.Random(seed)
      Seq.fill(120)(vocab(r.nextInt(vocab.length))).mkString(" ")
    }
    val corpus = (1L to 30L).map(id => (id, doc(id))).toDF("doc_id", "text")
    // batch: ids 1001-1010 near-dup corpus docs 1-10 (one appended word);
    // ids 2001-2002 near-dup EACH OTHER but nothing in the corpus
    val batchSelf = doc(999)
    val batch = ((1L to 10L).map(id => (id + 1000L, doc(id) + " qqq")) ++
      Seq((2001L, batchSelf), (2002L, batchSelf + " zzz"))).toDF("doc_id", "text")

    val got = Dedup.incrementalNearDups(batch, corpus, "doc_id", "text", threshold = 0.5)
      .select("batch_id", "corpus_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((1L to 10L).forall(id => got.contains((id + 1000L, id))),
      s"planted cross-split dups missing: $got")
    assert(got.forall { case (b, _) => b > 1000L }, s"corpus ids on the batch side: $got")
    assert(!got.exists { case (b, c) => b >= 2001L || c >= 2001L },
      s"batch-internal pair leaked into batch-vs-corpus output: $got")
    spark.catalog.clearCache()
  }

  test("clusterKeepers keeps the max-preference doc per cluster, ties to smallest id") {
    import spark.implicits._
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (9L, 7L))
      .toDF("doc_id", "cluster_id")
    val corpus = Seq((1L, 10L), (2L, 50L), (3L, 50L), (7L, 5L), (9L, 5L))
      .toDF("doc_id", "len")
    val got = Dedup.clusterKeepers(corpus, clusters, "doc_id", "len")
      .orderBy("cluster_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // cluster 1: docs 2 and 3 tie at len 50 → keeper 2; cluster 7: tie at 5 → keeper 7
    assert(got == Seq((1L, 2L, 3L), (7L, 7L, 2L)), got.toString)
  }

  /** Planted near-dups must be recovered, and the signature must actually
    * cluster: planted pairs at small hamming distance, unrelated pairs
    * far. A simhash that doesn't separate the two would pass rows-only
    * checks while being semantically useless. Dups are one appended word
    * on ~200-word docs (one changed shingle) — the tight-edit regime the
    * hamming<=3 contract targets; a mid-document substitution changes 3
    * shingles and lands farther out by design. */
  test("simhash recovers planted appended-word near-dups and separates random pairs") {
    import spark.implicits._
    val vocabRnd = new scala.util.Random(7)
    val vocab = Array.fill(400)("w" + vocabRnd.nextInt(100000))
    val base = (1L to 40L).map { id =>
      val rnd = new scala.util.Random(id)
      (id, Seq.fill(200)(vocab(rnd.nextInt(vocab.length))).mkString(" "))
    }
    val edited = base.map { case (id, text) => (id + 1000000L, text + " zzyqx") }
    val corpus = (base ++ edited).toDF("doc_id", "text")

    val sigOf = Dedup.simhashSignatures(corpus, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(sigOf(a) ^ sigOf(b))
    val plantedH = base.map { case (id, _) => ham(id, id + 1000000L) }
    val randomH = for (a <- 1L to 40L; b <- (a + 1) to 40L) yield ham(a, b)
    val plantedMean = plantedH.sum.toDouble / plantedH.size
    val randomMean = randomH.sum.toDouble / randomH.size
    assert(plantedMean <= 4.0, s"planted pairs too far: mean hamming $plantedMean")
    assert(randomMean >= 20.0, s"random pairs too close: mean hamming $randomMean")

    val found = Dedup.simhashNearDups(corpus, "doc_id", "text", maxHamming = 3)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = base.map { case (id, _) => (id, id + 1000000L) }.toSet
    val recall = planted.count(found.contains).toDouble / planted.size
    assert(recall >= 0.7, s"simhash recall on planted near-dups = $recall")
    spark.catalog.clearCache()
  }

  /** 1,000 identical docs: every band bucket hits 1,000 members. With a
    * cap of 20 the quadratic self-join never happens — bounded time,
    * empty result (exact duplicates are exact-dedup's job), logged drop. */
  test("bucket cap bounds banded joins on an all-identical corpus") {
    import spark.implicits._
    val boiler = (1L to 1000L).map(i => (i, "the same boilerplate text repeated verbatim " +
      "across every single document in this corpus end to end")).toDF("doc_id", "text")
    val sim = Dedup.simhashNearDups(boiler, "doc_id", "text", maxHamming = 3, maxBucketSize = 20)
    assert(sim.count() == 0)
    val mh = Dedup.minhashNearDups(boiler, "doc_id", "text", threshold = 0.5, maxBucketSize = 20)
    assert(mh.count() == 0)
    val ng = Dedup.ngramJaccardDups(boiler, "doc_id", "text", threshold = 0.5, maxBucketSize = 20)
    assert(ng.count() == 0)
    val emb = (1L to 500L).map(i => (i, Array.fill(64)(0.5f))).toDF("vec_id", "embedding")
    val en = Similarity.embeddingNearDups(emb, "vec_id", "embedding",
      threshold = 0.9, maxBucketSize = 20)
    assert(en.count() == 0)
    spark.catalog.clearCache()
  }

  /** Connected components over pair lists: clique, chain (transitivity
    * across rounds), and singleton clusters all label with the min
    * member; end-to-end nearDedup keeps exactly one doc per cluster. */
  test("nearDupClusters labels components; nearDedup keeps one doc per cluster") {
    import spark.implicits._
    // components: {1,2,3} (clique), {10,11,12,13} (chain), {20,21}
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L), (10L, 11L), (11L, 12L),
      (12L, 13L), (20L, 21L)).toDF("doc_a", "doc_b")
    val got = Dedup.nearDupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L, 20L -> 20L, 21L -> 20L))

    // end-to-end: 3 near-identical docs + 2 distinct docs -> 3 survivors
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota"),
      (3L, "alpha beta gamma delta epsilon zeta eta kappa"),
      (50L, "the quick brown fox jumps over the lazy dog today"),
      (60L, "completely unrelated content about entirely different things here")
    ).toDF("doc_id", "text")
    val kept = Dedup.nearDedup(docs, "doc_id", "text", threshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 50L, 60L), s"kept $kept")
    spark.catalog.clearCache()
  }

  test("nearDupClusters converges in O(log n) rounds on a 10k chain (VERDICT r14 #3)") {
    import spark.implicits._
    // a 10k-node chain: diameter 9999 ≫ the propagation bound of 20 —
    // min-label propagation legitimately raises here; large-star/
    // small-star must cluster it in ≤ ~2·log2(n)+4 rounds
    val n = 10000L
    val pairs = spark.range(1L, n).select($"id".as("doc_a"), ($"id" + 1L).as("doc_b"))
    intercept[IllegalStateException](
      DedupSpec.propagationClusters(pairs, maxIters = 20).collect())
    // forced onto the distributed rounds: a driver-path 0 measures nothing
    val (labels, rounds) = Dedup.nearDupClustersWithRounds(pairs, localPairs = 0)
    val bound = 2 * (math.log(n.toDouble) / math.log(2)).ceil.toInt + 4
    assert(rounds > 0 && rounds <= bound, s"chain must converge in O(log n): $rounds > $bound")
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(got.length == n)
    assert(got.forall(_._2 == 1L), "every chain node labels to the min (1)")
    spark.catalog.clearCache()
  }

  test("nearDupClusters agrees with the min-label propagation oracle on random graphs") {
    import spark.implicits._
    (0 until 3).foreach { seed =>
      val rnd = new scala.util.Random(100 + seed)
      val n = 300
      // sparse random graph + planted self-pairs (singleton contract)
      val es = (1 to 400).map(_ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)) :+ (9999L, 9999L)
      val pairs = es.toDF("doc_a", "doc_b")
      def labels(df: DataFrame) = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val (driver, dist) = DedupSpec.bothPaths(pairs)
      val oracle = labels(DedupSpec.propagationClusters(pairs, maxIters = 200))
      assert(labels(dist) == oracle,
        s"seed $seed distributed: ${labels(dist).toSeq.diff(oracle.toSeq).take(5)}")
      assert(labels(driver) == oracle,
        s"seed $seed driver: ${labels(driver).toSeq.diff(oracle.toSeq).take(5)}")
    }
    spark.catalog.clearCache()
  }

  /** The driver path and the distributed rounds give the same labels
    * and the same schema on the clique/chain/pair graph, for Long and
    * Int ids, with a self-pair-only node and null endpoints. */
  test("nearDupClusters driver path equals the distributed rounds: Long/Int ids, self-pairs, nulls") {
    import spark.implicits._
    val es = Seq((1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (12, 13), (20, 21), (30, 30))
    val want = Map(1 -> 1, 2 -> 1, 3 -> 1, 10 -> 10, 11 -> 10, 12 -> 10, 13 -> 10,
      20 -> 20, 21 -> 20, 30 -> 30)
    def labels(df: DataFrame) = df.collect().map(r => Option(r.get(0)) -> Option(r.get(1))).toSet
    val longs = es.map { case (a, b) => (a.toLong, b.toLong) }.toDF("doc_a", "doc_b")
    val ints = es.toDF("doc_a", "doc_b")
    val nullable = (es.map { case (a, b) => (Option(a.toLong), Option(b.toLong)) } ++
      Seq((Some(2L), None), (None, None), (Some(40L), None))).toDF("doc_a", "doc_b")
    val cases: Seq[(DataFrame, Set[_])] = Seq(
      longs -> want.map { case (d, c) => Option(d.toLong) -> Option(c.toLong) }.toSet,
      ints -> want.map { case (d, c) => Option(d) -> Option(c) }.toSet,
      // a null endpoint joins no edge (2 keeps its cluster, 40 is its
      // own), and the null node labels null
      nullable -> (want.map { case (d, c) => Option(d.toLong) -> Option(c.toLong) }.toSet +
        (Some(40L) -> Some(40L)) + (None -> None)))
    for ((pairs, expected) <- cases) {
      val (driver, dist) = DedupSpec.bothPaths(pairs)
      assert(driver.schema == dist.schema, s"${driver.schema} vs ${dist.schema}")
      assert(driver.schema.map(_.dataType) == Seq.fill(2)(pairs.schema.head.dataType))
      assert(labels(driver) == expected)
      assert(labels(dist) == expected)
    }
    spark.catalog.clearCache()
  }

  /** At `LocalPairs` pairs the driver labels the graph in one collect
    * job and no round; one pair more takes the distributed rounds. */
  test("nearDupClusters labels on the driver up to LocalPairs pairs, in at most one job") {
    import spark.implicits._
    // disjoint pairs (2i, 2i+1), four partitions
    def matching(n: Int) = spark.range(0L, n.toLong, 1L, 4)
      .select(($"id" * 2).as("doc_a"), ($"id" * 2 + 1).as("doc_b"))
    val ((small, r0), jobs) = TestBase.jobsDuring(Dedup.nearDupClustersWithRounds(matching(Dedup.LocalPairs)))
    // one task reads the partitions in turn, so no more than
    // LocalPairs + 1 pairs are read whatever the partitioning
    val tasks = jobs.flatMap(_.stageInfos).map(_.numTasks).sum
    assert(r0 == 0 && jobs.size <= 1 && tasks <= 1,
      s"driver path: $r0 rounds, ${jobs.size} jobs, $tasks tasks")
    val (large, r1) = Dedup.nearDupClustersWithRounds(matching(Dedup.LocalPairs + 1))
    assert(r1 > 0, "one pair above LocalPairs must take the distributed rounds")
    for ((labels, n) <- Seq(small -> Dedup.LocalPairs, large -> (Dedup.LocalPairs + 1))) {
      val r = labels.agg(count(lit(1)), sum(when($"cluster_id" === $"doc_id" - ($"doc_id" % 2), 1L))).head()
      assert(r.getLong(0) == 2L * n && r.getLong(1) == 2L * n, s"$n pairs: $r")
    }
    spark.catalog.clearCache()
  }

  test("maximalDupSpans: hand-computed merge of adjacent duplicated windows") {
    import spark.implicits._
    // spanLen 5. A and B are exact copies → every window duplicated →
    // ONE maximal span covering the whole doc. C shares only "abcde"
    // (one window). D's single window is unique. E is sub-window. F has
    // two dup regions separated by a unique gap → TWO spans.
    val docs = Seq(
      (1L, "abcdefghij"),     // = B: span [1,11) → 1 span, 10 chars
      (2L, "abcdefghij"),
      (3L, "zzabcdezz"),      // "abcde" at pos 3 → [3,8): 1 span, 5
      (4L, "qqqqq"),          // unique window → 0 spans
      (5L, "pq"),             // shorter than spanLen → 0 spans
      (6L, "abcde1234fghij")  // [1,6) + [10,15): 2 spans, 10 chars, max 5
    ).toDF("doc_id", "text")
    val expect = Map(
      1L -> (10L, 1L, 10L, 10L),
      2L -> (10L, 1L, 10L, 10L),
      3L -> (9L, 1L, 5L, 5L),
      4L -> (5L, 0L, 0L, 0L),
      5L -> (2L, 0L, 0L, 0L),
      6L -> (14L, 2L, 10L, 5L))
    Seq(true, false).foreach { hashed =>
      val got = Dedup.maximalDupSpans(docs, "doc_id", "text",
        spanLen = 5, hashedShingles = hashed)
        .collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toMap
      assert(got == expect, s"hashed=$hashed: $got")
    }
    // within-doc repeats count as duplicated positions too — one doc,
    // "XXXXX" at both ends: two spans of 5 (the middle 'b' gap is unique)
    val self = Seq((9L, "XXXXXbXXXXX")).toDF("doc_id", "text")
    val gotSelf = Dedup.maximalDupSpans(self, "doc_id", "text", spanLen = 5)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).head
    // windows: XXXXX(1) XXXXb(2) XXXbX(3) XXbXX(4) XbXXX(5) bXXXX(6) XXXXX(7)
    // only "XXXXX" (pos 1, 7) duplicated → spans [1,6) and [7,12)
    assert(gotSelf == (11L, 2L, 10L, 5L), gotSelf.toString)
    // repartition invariance
    val a = Dedup.maximalDupSpans(docs.repartition(5), "doc_id", "text", spanLen = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).sorted.toSeq
    val b = Dedup.maximalDupSpans(docs.coalesce(1), "doc_id", "text", spanLen = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).sorted.toSeq
    assert(a == b)
  }

  /** Prefix filtering is LOSSLESS: the n-gram Jaccard join must equal
    * brute-force all-pairs Jaccard exactly — on a corpus with planted
    * near-dups (tight edits), exact duplicates (ties in the global
    * token order), and unrelated docs. Not a recall bound: set
    * equality. */
  test("ngramJaccardDups equals brute-force all-pairs Jaccard exactly") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val vocab = Array.fill(400)("w" + rnd.nextInt(60000))
    def doc(seed: Long, words: Int) = {
      val r = new scala.util.Random(seed)
      Seq.fill(words)(vocab(r.nextInt(vocab.length))).mkString(" ")
    }
    val base = (1L to 60L).map(id => (id, doc(id, 60 + rnd.nextInt(60))))
    val edited = (1L to 20L).map(id => (id + 500L, doc(id, 0) + doc(id, 120) + " zzyqx"))
    val exactDup = Seq((701L, base.head._2))
    val corpus = (base ++ edited ++ exactDup).toDF("doc_id", "text")

    val got = Dedup.ngramJaccardDups(corpus, "doc_id", "text", threshold = 0.5)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val sets = Dedup.withShingleSet(corpus, "doc_id", "text")
    val brute = sets.as("l").join(sets.as("r"), col("l.doc_id") < col("r.doc_id"))
      .withColumn("i", size(array_intersect(col("l.sh_set"), col("r.sh_set"))).cast("double"))
      .withColumn("u", size(col("l.sh_set")) + size(col("r.sh_set")) - col("i"))
      .filter(col("i") / col("u") >= 0.5)
      .select(col("l.doc_id"), col("r.doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    assert(got == brute,
      s"got=${got.size} brute=${brute.size}; " +
        s"missing=${(brute -- got).take(5)} extra=${(got -- brute).take(5)}")
    assert(brute.contains((1L, 701L)), "exact-dup pair must be present")
    assert(brute.size >= 10, s"pin is near-vacuous: only ${brute.size} true pairs")
    spark.catalog.clearCache()

    // plan shape: every join in the pipeline must be a hash/sort-merge
    // equi-join on the hashed token — a cartesian/nested-loop anywhere
    // means the prefix bucketing failed to reach Catalyst
    val (verified, caches) =
      Dedup.ngramJaccardFrames(corpus, "doc_id", "text", 0.5, Dedup.DefaultMaxBucketSize)
    val plan = verified.queryExecution.executedPlan.toString
    caches.foreach(_.unpersist())
    spark.catalog.clearCache()
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop"),
      s"ngram join must stay equi-join:\n$plan")
  }

  /** exact() must partial-aggregate (no Window in the plan) and still
    * match the window variant on a corpus with one severely hot key. */
  test("exact dedup is skew-safe: min_by aggregation, same result as window") {
    import spark.implicits._
    val hot = (1L to 50000L).map(i => (i, "dup", s"src${i % 7}")) ++
      (50001L to 50100L).map(i => (i, s"uniq$i", "srcX"))
    val df = hot.toDF("doc_id", "text", "source")
    val agg = Dedup.exact(df, Seq("text"), "doc_id")
    val win = Dedup.exactViaWindow(df, Seq("text"), "doc_id")
    assert(agg.columns.toSeq == df.columns.toSeq)
    assert(agg.orderBy("doc_id").collect().toSeq == win.orderBy("doc_id").collect().toSeq)
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"exact() must not plan a Window:\n$plan")
    assert(plan.contains("partial"), s"exact() must partial-aggregate:\n$plan")
  }

  /** A key group whose orderCol is entirely NULL must still keep one of
    * its real rows — min_by skips null ordering values, so an unwrapped
    * ordering key would fabricate an all-null row and drop the data. */
  test("exact dedup keeps a real row when orderCol is all-null in a group") {
    import spark.implicits._
    val df = Seq(
      ("k1", Some(5L), "a"), ("k1", None, "b"),     // mixed: non-null ord wins
      ("k2", None, "c"), ("k2", None, "d")           // all-null ord group
    ).toDF("key", "ord", "payload")
    val out = Dedup.exact(df, Seq("key"), "ord")
      .collect().map(r => r.getString(0) -> (Option(r.get(1)), r.getString(2))).toMap
    assert(out("k1") == (Some(5L), "a"))
    val (k2ord, k2payload) = out("k2")
    assert(k2ord.isEmpty && Set("c", "d").contains(k2payload),
      s"all-null group must keep a real row, got $k2payload")
  }

  /** Chunk-level dedup: repeated chunks survive only at their corpus-first
    * (doc, idx) occurrence; docs reassemble from surviving chunks in
    * order; a fully-duplicated doc collapses to the empty string. */
  test("chunkDedup keeps first occurrences and reassembles in order") {
    import spark.implicits._
    val A = "a1 a2 a3 a4"; val B = "b1 b2 b3 b4"; val C = "c1 c2 c3 c4"
    val docs = Seq(
      (1L, s"$A $B"),        // both chunks first here
      (2L, s"$A $C"),        // A repeated → only C survives
      (3L, s"$A $B"),        // fully duplicated → empty
      (4L, s"d1 d2 d3 d4 d1 d2 d3 d4"), // in-doc repeat → first kept
      (5L, "e1 e2 e3 e4 e5 e6")         // ragged tail chunk (2 words)
    ).toDF("doc_id", "text")
    val out = Dedup.chunkDedup(docs, "doc_id", "text", chunkWords = 4)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == ((2L, 2L, s"$A $B")))
    assert(out(2L) == ((2L, 1L, C)))
    assert(out(3L) == ((2L, 0L, "")))
    assert(out(4L) == ((2L, 1L, "d1 d2 d3 d4")))
    assert(out(5L) == ((2L, 2L, "e1 e2 e3 e4 e5 e6")))
  }

  /** Chunk first-occurrence must be corpus-global and partitioning-
    * independent, and the plan must partial-aggregate (a boilerplate
    * chunk duplicated everywhere combines map-side — no window). */
  test("chunkDedup is partitioning-independent and partial-aggregates") {
    import spark.implicits._
    val docs = (1L to 500L).map(i => (i, if (i % 5 == 0) "x1 x2 x3 x4" else s"u$i v$i w$i z$i"))
      .toDF("doc_id", "text")
    def run(d: org.apache.spark.sql.DataFrame) =
      Dedup.chunkDedup(d, "doc_id", "text", chunkWords = 4)
        .orderBy("doc_id").collect().toSeq
    val a = run(docs)
    assert(a == run(docs.repartition(13, col("doc_id") % 3)), "result drifted with partitioning")
    val kept = a.filter(_.getLong(2) > 0).map(_.getLong(0))
    assert(kept.count(_ % 5 == 0) == 1, "exactly one copy of the boilerplate chunk survives")
    val plan = Dedup.chunkDedup(docs, "doc_id", "text", 4)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"chunkDedup must not plan a Window:\n$plan")
  }

  /** duplicatedSpanStats semantics on a hand-computed corpus: cross-doc
    * spans count, within-doc repetition does not (document frequency,
    * not occurrence frequency), short docs drop, null text drops. */
  test("duplicatedSpanStats matches hand-computed span coverage") {
    import spark.implicits._
    val docs = Seq(
      (1L, "AAAABBBB"),   // spans AAAA..BBBB; only AAAA is shared (doc 2)
      (2L, "XXAAAAYY"),   // shares AAAA at one position
      (3L, "ZZZ"),        // shorter than spanLen: no span positions
      (4L, "QQQQQQQQ"),   // QQQQ ×5 within ONE doc: df=1, not duplicated
      (5L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val got = Dedup.duplicatedSpanStats(docs, "doc_id", "text",
        spanLen = 4, hashedShingles = false)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, 5L, 1L), (2L, 5L, 1L), (4L, 5L, 0L)), got.toString)
  }

  /** dedupSpans semantics on a hand-computed corpus: non-first span
    * occurrences cut (within-doc repeats included), overlapping cut
    * spans union, heads/gaps/tails reassemble in order, short docs and
    * cut-free docs survive whole, fully-covered docs collapse to "". */
  test("dedupSpans cuts exactly the non-first span occurrences (hand-computed)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "ABCDEFGH"),    // every span first → kept whole
      (2L, "XXABCDEFYY"),  // ABCDE@3 + BCDEF@4 non-first → cut [3,9) → "XXYY"
      (3L, "ABCDE"),       // its only span is non-first → fully cut → ""
      (4L, "ABC"),         // shorter than spanLen → kept whole
      (5L, "PQRSTPQRST")   // within-doc repeat: PQRST@6 cut → "PQRST"
    ).toDF("doc_id", "text")
    val expected = Seq(
      (1L, 8L, 8L, "ABCDEFGH"),
      (2L, 10L, 4L, "XXYY"),
      (3L, 5L, 0L, ""),
      (4L, 3L, 3L, "ABC"),
      (5L, 10L, 5L, "PQRST"))
    Seq(false, true).foreach { hashed =>
      val got = Dedup.dedupSpans(docs, "doc_id", "text",
          spanLen = 5, hashedShingles = hashed)
        .orderBy("doc_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
        .toSeq
      assert(got == expected, s"hashed=$hashed: $got")
    }
  }

  /** dedupSpans on the real corpus: modes agree bit-for-bit (keys AND
    * reassembled text) and cutting is monotone (kept_len ≤ orig_len,
    * kept text length consistent). No cross-check against t38 coverage:
    * t38 counts DOCUMENT frequency (within-doc repeats don't count)
    * while dedupSpans cuts within-doc repeats too — the semantics
    * deliberately differ there. */
  test("dedupSpans agrees across hashed and exact modes on the corpus") {
    val d = spark.read.parquet(docs)
    def run(hashed: Boolean) =
      Dedup.dedupSpans(d, "doc_id", "text", spanLen = 40, hashedShingles = hashed)
        .orderBy("doc_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
        .toSeq
    val exact = run(false)
    assert(exact == run(true), "hashed span keys drifted from exact strings")
    assert(exact.exists(r => r._3 < r._2), "pin is vacuous: nothing was cut")
    assert(exact.forall(r => r._3 >= 0 && r._3 <= r._2 && r._4.length == r._3))
  }

  /** Hashed-key mode (the 100 TB shuffle-width default) must agree with
    * exact string keys on a real corpus, and the duplicate-key probe must
    * stay a partial-aggregating join — no Window over the span key. */
  test("duplicatedSpanStats hashed mode agrees with exact mode; no Window") {
    val d = spark.read.parquet(docs)
    def run(hashed: Boolean) =
      Dedup.duplicatedSpanStats(d, "doc_id", "text", spanLen = 40, hashedShingles = hashed)
        .orderBy("doc_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val exact = run(false)
    assert(exact == run(true), "hashed span keys drifted from exact strings")
    assert(exact.exists(_._3 > 0), "pin is vacuous: corpus has no duplicated spans")
    assert(exact.forall { case (_, n, dup) => dup >= 0 && dup <= n },
      "dup_positions out of [0, n_positions]")
    val plan = Dedup.duplicatedSpanStats(d, "doc_id", "text", 40)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"span-frequency must not plan a Window:\n$plan")
  }

  test("rollingHash60 is bit-equal to the per-window polynomial reference") {
    import spark.implicits._
    // pure-Scala reference: polyhash60-family over each window's UTF-16
    // code units — the contract the generated rolling update must hit
    def ref(s: String, L: Int): Seq[Long] =
      if (s.length < L) Nil
      else (0 to s.length - L).map { i =>
        var h1 = 0L; var h2 = 0L
        s.substring(i, i + L).foreach { c =>
          h1 = (31L * h1 + c) % 1000000007L
          h2 = (131L * h2 + c) % 998244353L
        }
        h2 * 1073741824L + h1
      }
    val samples = Seq(
      "the quick brown fox jumps over the lazy dog",
      "aaaaaaaaaaaaaaaaaaaa",             // degenerate repetition
      "short",                            // below span length
      "exactly-ten",                      // around the boundary
      "unicode: äöü߀ and £¥ plus emoji-free BMP text")
    for (l <- Seq(1, 7, 10, 40)) {
      val got = samples.toDF("s")
        .select(org.apache.spark.sql.graft.VectorBridge.rollingHash60($"s", l).as("h"))
        .as[Seq[Long]].collect().toSeq
      val want = samples.map(ref(_, l))
      assert(got == want, s"span length $l drifted from the reference")
    }
    // hashes of equal spans collide iff the spans are equal (on this
    // corpus): the repetition sample's windows are all identical
    val rep = samples(1)
    val hs = ref(rep, 7)
    assert(hs.distinct.size == 1, "identical windows must share one hash")
  }

  test("native kernels COMPILE under whole-stage codegen (no silent fallback)") {
    import spark.implicits._
    // spark.sql.codegen.fallback=false turns a generated-code compile
    // failure into a hard error instead of a WARN + interpreted fallback.
    // RollingHash60's doGenCode shipped for two rounds emitting a
    // wrong-package UnsafeArrayData reference: every plan containing it
    // compiled nothing and ran interpreted — correct, silently slow.
    // This pin makes that class of bug fail loudly.
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val df = Seq("the quick brown fox jumps over the lazy dog and more words",
        "second sample with enough words to produce several grams here")
        .toDF("s")
      val b = org.apache.spark.sql.graft.VectorBridge
      val out = df.select(
          b.rollingHash60($"s", 10).as("rh"),
          b.winnowSelect(b.rollingHash60($"s", 10), 3).as("ws"),
          b.wordGramHash31($"s", 3).as("wg"),
          b.polyhash31($"s").as("p31"),
          b.polyhash60($"s").as("p60"),
          b.simhash64(b.wordGramHash60($"s", 3)).as("sh"),
          b.minhashSigQ(b.wordGramXxhash64($"s", 3),
            IndexedSeq(3L, 5L), IndexedSeq(7L, 11L), 2147483647L).as("ms"),
          b.wordGrams($"s", 3).as("wgs"),
          b.fingerprint31($"s").as("fp"),
          b.alnumRunCount($"s").as("arc"))
        .selectExpr("size(rh)", "size(ws)", "size(wg)", "p31", "p60", "sh", "size(ms)",
          "size(wgs)", "fp", "arc")
        .collect()
      assert(out.length == 2)
      // the vector-kernel family (array-typed inputs)
      val vdf = Seq((Seq(1L, 2L), Seq(3L, 4L), Seq(0, 1), Seq(Seq(10L, 20L), Seq(30L, 40L))))
        .toDF("va", "vb", "codes", "lut")
      val vout = vdf.select(
          b.dotQ($"va", $"vb").as("dot"),
          b.sortedIntersectCountQ($"va", $"vb").as("ic"),
          b.pqEncodeQ($"va", IndexedSeq(0L, 0L, 1L, 1L), m = 2, codes = 2, w = 1).as("pq"),
          b.adcLookupQ($"codes", $"lut").as("adc"))
        .collect()
      assert(vout.length == 1 && vout(0).getLong(0) == 11L && vout(0).getLong(3) == 50L)
    } finally spark.conf.set("spark.sql.codegen.fallback", "true")
  }

  /** The byte-level gram-hash kernel must equal the composed
    * `transform(array_distinct(gram strings), xxhash64)` EXACTLY —
    * same values, same first-occurrence order — across the shingling
    * edges: runs of spaces (empty words), leading/trailing spaces,
    * multi-byte UTF-8 incl. surrogate pairs, short docs (< n words),
    * empty text, and within-doc repeated grams. */
  test("WordGramXxhash64 equals composed gram-string xxhash64 path bit-for-bit") {
    import spark.implicits._
    val samples = Seq(
      "the quick brown fox jumps over the lazy dog",
      "a a a a a a a a",                       // repeated grams collapse
      "double  space   runs keep empty words", // empty words between spaces
      " leading and trailing spaces ",
      "two words",                             // < n words: whole-text gram
      "single",
      "",                                      // empty text
      "unicode äöü߀ grams £¥ mixed with ascii words here",
      "emoji 😀 surrogate 🎉 pairs in words",
      (1 to 200).map(i => "w" + (i % 17)).mkString(" ")) // heavy dedupe
    val df = samples.toDF("s")
    val composedGrams = Dedup.shinglesOfWords(split($"s", " "), 3)
    val rows = df.select(
        graft.functions.VectorFunctions.wordGramXxhash64($"s", 3).as("fused"),
        transform(composedGrams, g => xxhash64(g)).as("composed"))
      .as[(Seq[Long], Seq[Long])].collect()
    rows.zip(samples).foreach { case ((fused, composed), s) =>
      assert(fused == composed, s"kernel drifted on <$s>")
    }
    // and the STRING kernel (WordGrams, what withShingleSet/shingles now
    // run) equals the composed shinglesOfWords path exactly — values and
    // first-occurrence order
    val srows = df.select(
        graft.functions.VectorFunctions.wordGrams($"s", 3).as("fused"),
        composedGrams.as("composed"))
      .as[(Seq[String], Seq[String])].collect()
    srows.zip(samples).foreach { case ((fused, composed), s) =>
      assert(fused == composed, s"string kernel drifted on <$s>")
    }
  }

  test("typoPairs finds every ed<=1 shape and rejects variant-collision impostors") {
    import spark.implicits._
    val words = Seq(
      "table", "tible",   // substitution (interior)
      "gable",            // substitution of 'table' at position 1
      "tables",           // insertion at the end (ed 1 from 'table')
      "able",             // deletion of 'table''s first char (ed 1)
      "abcd", "abdc",     // share deletion variant 'abc'/'abd'? -> lev 2, must NOT pair
      "zzzz",             // isolated
      "wheel", "wheel",   // duplicate input word: no self-pair
      "cat"               // below minLen, excluded entirely
    ).toDF("w")
    val got = Dedup.typoPairs(words, "w").as[(String, String)]
      .collect().toSet
    // expectation computed from a reference levenshtein, not hand-listed
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val vocab = Seq("table", "tible", "gable", "tables", "able",
      "abcd", "abdc", "zzzz", "wheel")
    val truth = (for {
      a <- vocab; b <- vocab if a < b && lev(a, b) <= 1
    } yield (a, b)).toSet
    assert(got == truth, s"got $got\nexpected $truth")
    // the impostor pair sharing a deletion variant at distance 2 is out
    assert(!got.contains(("abcd", "abdc")))
    // no self-pairs, no short words
    assert(got.forall { case (a, b) => a < b && a.length >= 4 && b.length >= 4 })
  }

  test("winnowFingerprints matches a pure-Scala winnowing reference") {
    import spark.implicits._
    // reference: rolling hashes (the rollingHash60 polynomial pair), then
    // per full window the min hash with rightmost tie-break; short docs
    // (fewer hashes than a window) keep their global minimum
    def hashes(s: String, L: Int): Seq[Long] =
      if (s.length < L) Nil
      else (0 to s.length - L).map { i =>
        var h1 = 0L; var h2 = 0L
        s.substring(i, i + L).foreach { c =>
          h1 = (31L * h1 + c) % 1000000007L
          h2 = (131L * h2 + c) % 998244353L
        }
        h2 * 1073741824L + h1
      }
    def refWinnow(s: String, L: Int, w: Int): Set[(Long, Long)] = {
      val hs = hashes(s, L)
      if (hs.isEmpty) Set.empty
      else if (hs.length < w) {
        val m = hs.min
        Set((hs.lastIndexOf(m) + 1L, m))
      } else
        (0 to hs.length - w).map { p =>
          val win = hs.slice(p, p + w)
          val m = win.min
          (p + win.lastIndexOf(m) + 1L, m)
        }.toSet
    }
    val rnd = new scala.util.Random(7)
    val alpha = "ab cd" // tiny alphabet forces hash ties inside windows
    val docs = (1L to 60L).map { i =>
      val len = 38 + rnd.nextInt(120) // straddles the 40-char span floor
      (i, (0 until len).map(_ => alpha(rnd.nextInt(alpha.length))).mkString)
    }
    val df = docs.toDF("doc_id", "text")
    val kernel = Dedup.winnowFingerprints(df, "doc_id", "text",
      spanLen = 40, window = 8)
    val got = kernel.collect()
      .groupBy(_.getLong(0))
      .map { case (id, rs) => id -> rs.map(r => (r.getLong(1), r.getLong(2))).toSet }
    val want = docs.map { case (id, s) => id -> refWinnow(s, 40, 8) }
      .filter(_._2.nonEmpty).toMap
    assert(got == want)
    // the kernel path must be fully scan-local (no doc_id sort-exchange)
    val plan = kernel.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"kernel winnowing must not shuffle:\n$plan")
    // and agree row-for-row with the generic window-frame plan
    val viaWindow = Dedup.winnowViaWindow(
        Dedup.spanPositions(df, "doc_id", "text", 40, hashedShingles = true), 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val kernelSet = kernel.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(kernelSet == viaWindow)
  }

  test("WinnowSelect kernel: brute-force per-window reference over adversarial arrays") {
    import spark.implicits._
    // brute force: every full window's (value asc, index desc) argmin;
    // arrays shorter than a window select their global rightmost min
    def ref(hs: Seq[Long], w: Int): Seq[Long] = {
      if (hs.isEmpty) Seq.empty
      else {
        val wins =
          if (hs.length < w) Seq(hs.indices)
          else (0 to hs.length - w).map(p => p until p + w)
        wins.map { win =>
          val m = win.map(hs).min
          win.filter(i => hs(i) == m).max + 1L
        }.distinct.sorted
      }
    }
    val rnd = new scala.util.Random(97)
    // adversarial shapes: tiny value alphabets (dense ties), all-equal
    // runs, strictly increasing/decreasing, empties, length < window
    val cases: Seq[(Seq[Long], Int)] =
      (1 to 120).map { i =>
        val len = rnd.nextInt(40)
        val alpha = 1 + rnd.nextInt(4) // values in [0, alpha)
        val w = 1 + rnd.nextInt(10)
        ((0 until len).map(_ => rnd.nextInt(alpha).toLong), w)
      } ++ Seq(
        (Seq.empty[Long], 3),
        (Seq(7L), 5),
        (Seq.fill(12)(42L), 4),
        ((1L to 20L), 6),
        ((1L to 20L).reverse, 6))
    cases.groupBy(_._2).foreach { case (w, group) =>
      val df = group.zipWithIndex.map { case ((hs, _), i) => (i.toLong, hs) }
        .toDF("id", "hs")
      val got = df.select($"id",
          graft.functions.VectorFunctions.winnowSelect($"hs", w).as("sel"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
      group.zipWithIndex.foreach { case ((hs, _), i) =>
        assert(got(i.toLong) == ref(hs, w),
          s"window=$w hs=$hs: got ${got(i.toLong)}, want ${ref(hs, w)}")
      }
    }
  }

  test("winnowing guarantee: a shared substring >= window+spanLen-1 chars shares a hash") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    def blob(n: Int) = (0 until n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val shared = blob(8 + 40 - 1) // exactly the guarantee threshold
    val docs = Seq(
      (1L, blob(90) + shared + blob(70)),
      (2L, blob(55) + shared + blob(111)),
      (3L, blob(200)) // no planted overlap
    ).toDF("doc_id", "text")
    val byDoc = Dedup.winnowFingerprints(docs, "doc_id", "text", 40, 8)
      .collect().groupBy(_.getLong(0))
      .map { case (id, rs) => id -> rs.map(_.getLong(2)).toSet }
    assert((byDoc(1L) & byDoc(2L)).nonEmpty,
      "docs sharing a w+k-1 substring must share a fingerprint hash")
    // and the candidate generator surfaces exactly that pair
    val pairs = Dedup.winnowCandidates(docs, "doc_id", "text", 40, 8)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)), s"got $pairs")
  }

  /** r19 rewrite guard: winnowCandidates now builds its distinct
    * (doc_id, fp_k) set scan-side (doc-local array_distinct over the
    * kernel's selections) instead of winnowFingerprints().distinct() —
    * the two must stay EXACTLY equivalent, including docs that repeat a
    * selected hash at several positions and docs shorter than a window. */
  test("winnowCandidates' scan-side fingerprint set equals the definitional distinct") {
    import spark.implicits._
    val rnd = new scala.util.Random(47)
    def blob(n: Int) = (0 until n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val rep = blob(60) // repeated inside ONE doc → duplicate selections
    val docs = Seq(
      (1L, rep + blob(30) + rep),
      (2L, blob(120)),
      (3L, blob(41)),            // barely one span
      (4L, blob(39)),            // below spanLen → no fingerprints
      (5L, rep + blob(5))
    ).toDF("doc_id", "text")
    val pairsCounts = Dedup.winnowCandidates(docs, "doc_id", "text", 40, 8,
        minShared = 1, maxDocFreq = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // definitional form, computed from the public fingerprint operator
    val fps = Dedup.winnowFingerprints(docs, "doc_id", "text", 40, 8)
      .select(col("doc_id"), col("fp_k")).distinct()
    val rare = fps.groupBy("fp_k").agg(count(lit(1)).as("df"))
      .filter(col("df") <= 50).select("fp_k")
    val kept = fps.join(rare, Seq("fp_k"), "left_semi")
    val ref = kept.as("x").join(kept.as("y"),
        col("x.fp_k") === col("y.fp_k") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared_fps"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(pairsCounts == ref,
      s"scan-side winnow set drifted: got $pairsCounts vs definitional $ref")
    assert(pairsCounts.exists { case (a, b, n) => a == 1L && b == 5L && n >= 1L },
      "docs sharing the planted 60-char block must pair")
  }

  test("winnowCandidates drops boilerplate fingerprints past the doc-frequency cap") {
    import spark.implicits._
    // every doc shares one 47-char boilerplate banner; with maxDocFreq
    // below the corpus size the banner's fingerprints indict nothing
    val rnd = new scala.util.Random(29)
    def blob(n: Int) = (0 until n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val banner = blob(47)
    // a doc-unique char right after the banner keeps every
    // boundary-crossing span distinct across docs, so the ONLY shared
    // hashes are pure-banner ones (df = 12 > the cap)
    val docs = (1L to 12L).map(i =>
      (i, banner + ('A' + i).toChar + blob(80))).toDF("doc_id", "text")
    val pairs = Dedup.winnowCandidates(docs, "doc_id", "text", 40, 8,
      minShared = 1, maxDocFreq = 5)
    assert(pairs.count() == 0, "banner-only overlap must be suppressed by the df cap")
  }

  test("normalizedExact: case/punct/whitespace variants collapse to the min-id keeper") {
    import spark.implicits._
    val df = Seq(
      (1L, "Hello, World!"),
      (2L, "hello   world"),     // whitespace + case variant of 1
      (3L, "HELLO WORLD."),      // case + punct variant of 1
      (4L, "hello world again"), // NOT a variant (extra word)
      (5L, "totally different")
    ).toDF("doc_id", "text")
    val got = Dedup.normalizedExact(df, "text", "doc_id")
      .select("doc_id", "text", "n_variants")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(got.toSeq == Seq(
      (1L, "Hello, World!", 3L),
      (4L, "hello world again", 1L),
      (5L, "totally different", 1L)))
    // the canonical form itself
    val norm = df.select(Dedup.normalizedText(col("text")).as("n"))
      .orderBy("n").collect().map(_.getString(0))
    assert(norm.toSeq == Seq("hello world", "hello world", "hello world",
      "hello world again", "totally different"))
  }

  test("normalizedExact: non-Latin letters survive; symbol-only docs never merge (ADVICE r15)") {
    import spark.implicits._
    val df = Seq(
      (1L, "Café au lait"),
      (2L, "café  au, lait!"),          // accent-preserving variant of 1
      (3L, "Привет, мир"),
      (4L, "привет мир"),                    // Cyrillic variant of 3
      (5L, "Пока мир"),                      // distinct Cyrillic doc
      (6L, "!!!"),                           // symbol-only: empty normalized form
      (7L, "???")                            // distinct symbol-only — must NOT merge with 6
    ).toDF("doc_id", "text")
    val got = Dedup.normalizedExact(df, "text", "doc_id")
      .select("doc_id", "n_variants").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 2L, 3L -> 2L, 5L -> 1L, 6L -> 1L, 7L -> 1L),
      s"ASCII-only normalization would collapse non-Latin/symbol docs: $got")
  }
}

object DedupSpec {
  /** `Dedup.nearDupClusters` on the driver path and forced onto the
    * distributed rounds; asserts which path each took. */
  def bothPaths(pairs: DataFrame): (DataFrame, DataFrame) = {
    val (driver, r0) = Dedup.nearDupClustersWithRounds(pairs)
    val (dist, r1) = Dedup.nearDupClustersWithRounds(pairs, localPairs = 0)
    assert(r0 == 0 && r1 > 0, s"driver path $r0 rounds, distributed $r1")
    (driver, dist)
  }

  /** Min-label propagation — O(graph diameter) rounds; the semantics
    * ORACLE for both paths of `Dedup.nearDupClusters` (clusters must
    * agree on any graph both converge on). */
  def propagationClusters(
      pairs: DataFrame, maxIters: Int = 20): DataFrame = {
    // undirected edges, both directions; labels start as each node's id
    val fwd = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
    val edges = fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst"))).persist()
    // localCheckpoint (eager) after every round TRUNCATES LINEAGE — the
    // iterative-join pattern otherwise grows the logical plan by one full
    // round per iteration and Catalyst analysis time explodes
    // combinatorially (measured: 10× slowdown by round ~10). Truncation
    // keeps every round's plan constant-size; the checkpointed labels
    // frame is one row per doc that appears in a pair.
    var labels = edges.select(col("src").as("doc_id")).distinct()
      .withColumn("cluster_id", col("doc_id")).localCheckpoint(true)
    var converged = false
    var i = 0
    while (i < maxIters && !converged) {
      // each node adopts min(own label, neighbors' labels); the old label
      // rides along so convergence is read off the checkpointed result
      val neighborMin = edges
        .join(labels.withColumnRenamed("doc_id", "dst"), "dst")
        .groupBy(col("src").as("doc_id"))
        .agg(min(col("cluster_id")).as("nmin"))
      val next = labels.join(neighborMin, Seq("doc_id"), "left")
        .select(col("doc_id"), col("cluster_id").as("__old"),
          least(col("cluster_id"), coalesce(col("nmin"), col("cluster_id"))).as("cluster_id"))
        .localCheckpoint(true)
      val changed = next
        .agg(coalesce(sum(when(col("cluster_id") =!= col("__old"), 1L).otherwise(0L)), lit(0L)))
        .head().getLong(0)
      labels = next.select("doc_id", "cluster_id")
      converged = changed == 0
      i += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"nearDupClusters did not converge in $maxIters iterations — raise maxIters")
    Dedup.materialized(labels, edges)
  }
}
