package graft.operators

import graft.delta.TestBase
import org.scalatest.funsuite.AnyFunSuite

/** ANN quality pins: the approximate paths must actually find
  * neighbors — measured as recall against the exact brute force on the
  * sf0.001 embeddings (deterministic: fixed seeds everywhere). */
class SimilaritySpec extends AnyFunSuite {
  private lazy val spark = TestBase.spark
  private val emb = "/root/testdata/sf0.001/embeddings.parquet"
  private val qids = Seq(0L, 1L, 2L, 3L, 4L)

  private def topkSet(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
    df.collect().map(r => (r.getLong(0), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap

  test("IVF recall@10 vs brute force is high on clustered data") {
    val df = spark.read.parquet(emb)
    val exact = topkSet(Similarity.bruteForceTopK(df, "vec_id", "embedding", qids, 10))
    val ivf = topkSet(Similarity.ivfTopK(df, "vec_id", "embedding", qids, 10))
    val recalls = qids.map(q => ivf.getOrElse(q, Set.empty)
      .intersect(exact(q)).size / 10.0)
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.5, s"mean IVF recall@10 = $mean ($recalls)")
  }

  test("IVF-PQ recall@10 vs brute force clears the floor; output is well-formed") {
    val df = spark.read.parquet(emb)
    val exact = topkSet(Similarity.bruteForceTopK(df, "vec_id", "embedding", qids, 10))
    val pq = Similarity.ivfPqTopK(df, "vec_id", "embedding", qids, 10)
    val got = topkSet(pq)
    val recalls = qids.map(q => got.getOrElse(q, Set.empty)
      .intersect(exact(q)).size / 10.0)
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.4, s"mean IVF-PQ recall@10 = $mean ($recalls)")
    // exactly k ranked rows per query, ranks 1..k, no query in its own list
    val byQ = pq.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
    qids.foreach { q =>
      val rows = byQ.getOrElse(q, Array.empty)
      assert(rows.length == 10, s"query $q returned ${rows.length} rows")
      assert(rows.map(_._2).sorted.toSeq == (1L to 10L), s"ranks for $q")
      assert(!rows.exists(_._3 == q), s"query $q returned itself")
    }
    // determinism: a second run emits the identical ranking
    val again = topkSet(Similarity.ivfPqTopK(df, "vec_id", "embedding", qids, 10))
    assert(again == got, "IVF-PQ must be deterministic across runs")
  }

  test("native pq_encode_q / adc_lookup_q equal the portable HOF formulation") {
    import org.apache.spark.sql.functions._
    import graft.functions.VectorFunctions
    val m = 4; val codes = 8; val w = 4
    val rnd = new scala.util.Random(7)
    val codebooks: IndexedSeq[Long] =
      IndexedSeq.fill(m * codes * w)(rnd.nextInt(2000000) - 1000000L)
    val cbSeq: Seq[Seq[Seq[Long]]] = (0 until m).map(j =>
      (0 until codes).map(c =>
        (0 until w).map(i => codebooks((j * codes + c) * w + i))))
    val df = spark.read.parquet(emb).limit(300)
      .select(col("vec_id"),
        slice(Similarity.quantize(col("embedding")), 1, m * w).as("v"))
    // portable argmin per subspace (the semantics oracle)
    val hofCodes = (0 until m).map { j =>
      val sub = slice(col("v"), j * w + 1, w)
      val dists = cbSeq(j).zipWithIndex.map { case (c, ci) =>
        val d2 = aggregate(zip_with(sub, typedLit(c), (x, y) => (x - y) * (x - y)),
          lit(0L), (acc, x) => acc + x)
        struct(d2.as("d"), lit(ci).as("code"))
      }
      array_min(array(dists: _*)).getField("code")
    }
    val checked = df.select(
      VectorFunctions.pqEncodeQ(col("v"), codebooks, m, codes, w).as("native"),
      array(hofCodes: _*).as("hof"))
    assert(checked.filter(not(col("native") <=> col("hof"))).count() == 0,
      "native encode must be bit-equal to the portable formulation")
    // ADC: native lookup equals zip_with+aggregate on a random LUT
    val lut: Seq[Seq[Long]] = (0 until m).map(_ =>
      (0 until codes).map(_ => rnd.nextInt(1000000).toLong))
    val adcChecked = checked.select(
      VectorFunctions.adcLookupQ(col("native"), typedLit(lut)).as("a"),
      aggregate(zip_with(col("native"), typedLit(lut),
        (c, l) => element_at(l, c.cast("int") + 1)), lit(0L), (acc, x) => acc + x).as("b"))
    assert(adcChecked.filter(not(col("a") <=> col("b"))).count() == 0)
    // arity mismatch yields NULL, not a partial answer
    val bad = df.select(VectorFunctions.pqEncodeQ(
      slice(col("v"), 1, m * w - 1), codebooks, m, codes, w).as("x"))
    assert(bad.filter(col("x").isNotNull).count() == 0)
  }

  test("groupCentroids computes exact integer means, negatives included") {
    import spark.implicits._
    val df = Seq(
      ("a", Seq(1.0f, -1.0f)),
      ("a", Seq(2.0f, -2.5f)),  // sum_q = (3000000, -3500000), n=2
      ("b", Seq(0.5f, 0.5f))
    ).toDF("g", "vec")
    val got = Similarity.groupCentroids(df, "g", "vec")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getSeq[Long](2).toSeq)).toMap
    // DIV truncates toward zero: -3500000 DIV 2 = -1750000 exactly here;
    // also pin a non-divisible negative via group b's single vector
    assert(got == Map(
      "a" -> (2L, Seq(1500000L, -1750000L)),
      "b" -> (1L, Seq(500000L, 500000L))))
    // truncation direction pin: -3 DIV 2 must be -1 (toward zero), the
    // same as DuckDB's // — the oracle contract
    val d = spark.sql("SELECT -3 DIV 2 AS x").head().getLong(0)
    assert(d == -1L, s"Spark DIV truncates toward zero, got $d")
  }

  test("native dot_q equals the HOF formulation bit-for-bit (incl. nulls, length mismatch)") {
    import org.apache.spark.sql.functions._
    val df = spark.read.parquet(emb).limit(200)
      .select(col("vec_id"), Similarity.quantize(col("embedding")).as("v"))
    // pair each vector with a rotated partner, a truncated one, and null
    val paired = df.as("l").join(df.as("r"),
        col("l.vec_id") =!= col("r.vec_id") && col("r.vec_id") < 20)
      .select(
        col("l.v").as("a"),
        col("r.v").as("b"),
        slice(col("r.v"), 1, 17).as("b_short"),
        lit(null).cast("array<bigint>").as("b_null"))
    val checked = paired.select(
      (Similarity.dotQ(col("a"), col("b")) <=>
        Similarity.dotQViaHof(col("a"), col("b"))).as("full"),
      (Similarity.dotQ(col("a"), col("b_short")) <=>
        Similarity.dotQViaHof(col("a"), col("b_short"))).as("short"),
      (Similarity.dotQ(col("a"), col("b_null")) <=>
        Similarity.dotQViaHof(col("a"), col("b_null"))).as("nul"),
      Similarity.dotQ(col("a"), col("b_null")).isNull.as("null_prop"))
    val bad = checked.filter(!col("full") || !col("short") || !col("nul") || !col("null_prop"))
    assert(bad.count() == 0)
  }

  test("brute-force hot path plans the native dot_q, no interpreted HOFs") {
    val df = spark.read.parquet(emb)
    val plan = Similarity.bruteForceTopK(df, "vec_id", "embedding", qids, 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("dot_q"), "expected the native DotProductQ in the plan")
    assert(!plan.contains("zip_with") && !plan.contains("aggregate("),
      "interpreted higher-order functions leaked into the brute-force plan")
  }

  test("hyperplane-LSH recall@10 vs brute force is nontrivial") {
    val df = spark.read.parquet(emb)
    val exact = topkSet(Similarity.bruteForceTopK(df, "vec_id", "embedding", qids, 10))
    val lsh = topkSet(Similarity.lshTopK(df, "vec_id", "embedding", qids, 10, dim = 64))
    val recalls = qids.map(q => lsh.getOrElse(q, Set.empty)
      .intersect(exact(q)).size / 10.0)
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.3, s"mean LSH recall@10 = $mean ($recalls)")
  }

  /** SemDeDup recall pin: within-cell pairs vs brute-force all-pairs
    * cosine on the sf0.001 embeddings. Planted near-identical pairs sit
    * almost on top of each other, so the coarse quantizer should put
    * them in one cell; precision is 1 by construction (every emitted
    * pair is exact-cosine-verified). */
  test("semanticNearDups finds most brute-force cosine pairs, precision 1") {
    import org.apache.spark.sql.functions._
    val df = spark.read.parquet(emb)
    val q = df.select(col("vec_id").as("id"),
      Similarity.quantize(col("embedding")).as("v"))
    val exact = q.as("l").join(q.as("r"), col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"),
        Similarity.cosineQ(col("l.v"), col("r.v")).as("cos"))
      .filter(col("cos") >= 0.42)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sem = Similarity.semanticNearDups(df, "vec_id", "embedding",
        threshold = 0.42, nlist = 16)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sem.subsetOf(exact), s"false positives: ${sem.diff(exact)}")
    assert(exact.nonEmpty, "corpus must contain planted near-dup pairs")
    val recall = sem.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.5, s"SemDeDup recall = $recall (${sem.size}/${exact.size})")
  }

  /** semanticDedup drops exactly the non-keeper members of each pair
    * cluster — the corpus shrinks by the number of losers. */
  test("semanticDedup removes cluster losers only") {
    val df = spark.read.parquet(emb)
    val pairs = Similarity.semanticNearDups(df, "vec_id", "embedding", 0.42, nlist = 16)
    val losers = pairs.select("id_a", "id_b").collect()
      .flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet.size -
      graft.operators.Dedup.nearDupClusters(
        pairs.withColumnRenamed("id_a", "doc_a").withColumnRenamed("id_b", "doc_b")
          .select("doc_a", "doc_b"))
        .select("cluster_id").distinct().count().toInt
    val kept = Similarity.semanticDedup(df, "vec_id", "embedding", 0.42, nlist = 16).count()
    assert(kept == df.count() - losers, s"kept $kept of ${df.count()}, losers $losers")
  }

  // ---- persisted index lifecycle (VERDICT r17 #3) --------------------------

  private def tmpIndex(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_ann_idx")
    d.toFile.deleteOnExit()
    s"$d/index"
  }

  test("persisted IVF-PQ index: build once, load round-trips the model, " +
      "queries are deterministic and clear the recall floor") {
    import org.apache.spark.sql.functions.col
    val df = spark.read.parquet(emb)
    val idx = tmpIndex()
    val built = Similarity.buildIvfPqIndex(df, "vec_id", "embedding", idx)
    // the stored model plane reconstructs the EXACT in-memory model —
    // integer micro-units end to end, so equality is bit-strict
    val loaded = Similarity.loadAnnIndex(spark, idx)
    assert(loaded == built, "load must round-trip the built model exactly")
    val queries = df.filter(col("vec_id").isin(qids.map(Long.box): _*))
      .select(col("vec_id"), col("embedding"))
    val r1 = topkSet(Similarity.queryIndex(queries, "vec_id", "embedding", idx, k = 10))
    val r2 = topkSet(Similarity.queryIndex(queries, "vec_id", "embedding", idx, k = 10))
    assert(r1 == r2, "repeated index queries must be identical")
    // LOG-level pruning witness: the codes plane is hive-partitioned by
    // cell, and a cell-filtered load must touch ONLY that cell's files —
    // the property queryIndex's nprobe filter rides at 100 TB
    val fullFiles = graft.delta.DeltaRead.load(spark, s"$idx/codes").inputFiles
    val oneCell = graft.delta.DeltaRead.load(spark, s"$idx/codes",
      filters = Seq(Seq(graft.delta.Predicate("cell", "==", 0)))).inputFiles
    assert(oneCell.nonEmpty && oneCell.forall(_.contains("cell=0")),
      s"cell filter must prune to the cell's partition dirs: ${oneCell.take(3).mkString(",")}")
    assert(oneCell.length < fullFiles.length,
      "pruned load must plan strictly fewer files than the full scan")
    val exact = topkSet(Similarity.bruteForceTopK(df, "vec_id", "embedding", qids, 10))
    val recalls = qids.map(q => r1.getOrElse(q, Set.empty).intersect(exact(q)).size / 10.0)
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.4, s"indexed recall@10 = $mean ($recalls)")
  }

  test("appendToIndex grows the codes plane under the FROZEN model: no model " +
      "commit, appended duplicates surface at the top") {
    import org.apache.spark.sql.functions.col
    val df = spark.read.parquet(emb)
    val idx = tmpIndex()
    Similarity.buildIvfPqIndex(df, "vec_id", "embedding", idx)
    val modelLog = graft.delta.DeltaLog.forTable(spark, s"$idx/model")
    val codesLog = graft.delta.DeltaLog.forTable(spark, s"$idx/codes")
    val (mv0, cv0) = (modelLog.snapshot(None).version, codesLog.snapshot(None).version)
    val queries = df.filter(col("vec_id").isin(qids.map(Long.box): _*))
      .select(col("vec_id"), col("embedding"))
    val shift = 1000000L
    Similarity.appendToIndex(
      queries.select((col("vec_id") + shift).as("vec_id"), col("embedding")),
      "vec_id", "embedding", idx)
    // zero fit work: append commits to the codes plane ONLY
    assert(modelLog.snapshot(None).version == mv0,
      "append must not touch the model table")
    assert(codesLog.snapshot(None).version == cv0 + 1,
      "append must land exactly one codes commit")
    // an identical vector assigns to the query's own first-probe cell
    // (same quantized argmin), so each appended copy ranks at the top
    val r = Similarity.queryIndex(queries, "vec_id", "embedding", idx, k = 10)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
    qids.foreach { q =>
      val hit = r.find(x => x._1 == q && x._3 == q + shift)
      assert(hit.exists(_._2 <= 2), s"appended duplicate of $q not in top-2: $hit")
    }
    // lifecycle maintenance: after more appends, OPTIMIZE shrinks the
    // codes plane's file count WITHOUT changing any query result
    Similarity.appendToIndex(
      queries.select((col("vec_id") + 2 * shift).as("vec_id"), col("embedding")),
      "vec_id", "embedding", idx)
    val before = graft.delta.DeltaRead.load(spark, s"$idx/codes").inputFiles.length
    val preOpt = Similarity.queryIndex(queries, "vec_id", "embedding", idx, k = 10)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
    val (removed, added) = Similarity.optimizeIndex(spark, idx)
    assert(removed > 0 && added > 0 && added < removed,
      s"compaction must shrink the codes plane: removed=$removed added=$added")
    assert(graft.delta.DeltaRead.load(spark, s"$idx/codes").inputFiles.length < before)
    val postOpt = Similarity.queryIndex(queries, "vec_id", "embedding", idx, k = 10)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
    assert(postOpt == preOpt, "OPTIMIZE must not change query results")
  }

  test("ivfPqTopK and buildIvfPqIndex + queryIndex rank identically, row for row") {
    import org.apache.spark.sql.functions.col
    val df = spark.read.parquet(emb)
    val idx = tmpIndex()
    Similarity.buildIvfPqIndex(df, "vec_id", "embedding", idx)
    val queries = df.filter(col("vec_id").isin(qids.map(Long.box): _*))
      .select(col("vec_id"), col("embedding"))
    def rows(r: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long)] =
      r.collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSeq.sorted
    val inMemory = rows(Similarity.ivfPqTopK(df, "vec_id", "embedding", qids, 10))
    assert(inMemory.length == qids.length * 10)
    assert(rows(Similarity.queryIndex(queries, "vec_id", "embedding", idx, k = 10)) == inMemory)
  }
}
