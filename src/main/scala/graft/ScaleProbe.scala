package graft

import org.apache.spark.sql.SparkSession

/** Operator-only scale probes: times the OPERATOR at a given sf dir
  * without the harness queries' in-query oracle machinery (t31's
  * all-pairs truth is O(N²) by construction — it is the verification's
  * cost, not the operator's, and would drown the scale curve).
  *
  * Usage: runMain graft.ScaleProbe <sfDir> [probe,...]
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val only = args.drop(1).headOption.map(_.split(",").toSet)
    // core count from the same env the bench honors, so probes can
    // produce 32-vs-8 scaling pairs
    val cpus = SparkEntry.cpus
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def table(n: String) = spark.read.parquet(s"$dir/$n.parquet")
    val probes: Seq[(String, () => Long)] = Seq(
      "semantic_dedup" -> (() => {
        val emb = table("embeddings")
        val nlist = math.max(16, (emb.count() / 250L).toInt)
        operators.Similarity.semanticNearDups(
          emb, "vec_id", "embedding", threshold = 0.42, nlist = nlist).count()
      }),
      "minhash" -> (() =>
        operators.Dedup.minhashNearDups(table("documents"), "doc_id", "text", 0.5).count()),
      "dup_spans" -> (() =>
        operators.Dedup.duplicatedSpanStats(table("documents"), "doc_id", "text", 40)
          .agg(org.apache.spark.sql.functions.sum("dup_positions")).head().getLong(0)),
      "maximal_spans" -> (() =>
        operators.Dedup.maximalDupSpans(table("documents"), "doc_id", "text", 40)
          .agg(org.apache.spark.sql.functions.sum("dup_chars")).head().getLong(0)),
      "quality_classifier" -> (() =>
        operators.TextAnalysis.qualityClassifier(table("documents"), "doc_id", "text",
            operators.TextAnalysis.defaultQualityWeights())
          .agg(org.apache.spark.sql.functions.sum("keep")).head().getLong(0)),
      "topngram_coverage" -> (() =>
        operators.TextAnalysis.topNgramCoverage(table("documents"), "doc_id", "text")
          .agg(org.apache.spark.sql.functions.sum("keep")).head().getLong(0)),
      "token_budget_mix" -> (() =>
        operators.Sampling.tokenBudgetSample(table("documents"), "doc_id", "text",
            "source", defaultBudget = 800L).count()),
      "eval_span_removal" -> (() => {
        import org.apache.spark.sql.functions.{col, sum}
        val d = table("documents")
        operators.Decontamination.removeEvalSpans(d, "doc_id", "text",
            d.filter(col("doc_id") % 1000 < 2), "text", spanLen = 40)
          .agg(sum("kept_len")).head().getLong(0)
      }),
      "dup_segments" -> (() => {
        import org.apache.spark.sql.functions.{col, regexp_replace, sum}
        val lined = table("documents").select(col("doc_id"),
          regexp_replace(
            regexp_replace(col("text"), "(\\S+ \\S+) ", "$1\n"),
            "((?:[^\n]*\n){2})", "$1\n").as("text"))
        operators.TextAnalysis.duplicateSegmentStats(lined, "doc_id", "text")
          .agg(sum("dup_line_pm")).head().getLong(0)
      }),
      "line_filter" -> (() => {
        import org.apache.spark.sql.functions.{col, regexp_replace, sum}
        val lined = table("documents").select(col("doc_id"),
          regexp_replace(col("text"), "(\\S+ \\S+ \\S+ \\S+ \\S+) ", "$1\n").as("text"))
        operators.TextAnalysis.filterLines(lined, "doc_id", "text",
            minWords = 5, banned = Seq("customer"), minKeptLines = 2)
          .agg(sum("kept_lines")).head().getLong(0)
      }),
      "normalized_dedup" -> (() =>
        operators.Dedup.normalizedExact(table("documents"), "text", "doc_id").count()),
      "chunk_overlap" -> (() =>
        operators.Packing.chunkWithOverlap(table("documents"), "doc_id", "text",
          chunkTokens = 12, stride = 8).count()),
      "hll_registers" -> (() => {
        import org.apache.spark.sql.functions.sum
        operators.Sketches.hllGramRegisters(table("documents"), "text", 3)
          .agg(sum("max_rho")).head().getLong(0)
      }),
      "countmin" -> (() => {
        import org.apache.spark.sql.functions.sum
        operators.Sketches.countMinCounters(table("documents"), "text")
          .agg(sum("n")).head().getLong(0)
      }),
      "kmv_jaccard" -> (() => {
        val sk = operators.Sketches.kmvSketches(table("documents"), "text", "source", 256)
        operators.Sketches.kmvJaccard(sk, 256).count()
      }),
      "winnow_fp" -> (() =>
        operators.Dedup.winnowFingerprints(table("documents"), "doc_id", "text",
          spanLen = 40, window = 8).count()),
      "winnow_pairs" -> (() =>
        operators.Dedup.winnowCandidates(table("documents"), "doc_id", "text",
          spanLen = 40, window = 8, minShared = 1, maxDocFreq = 50).count()),
      "importance_select" -> (() => {
        import org.apache.spark.sql.functions.col
        val d = table("documents")
        operators.Sampling.importanceSelect(d, "doc_id", "text",
          d.filter(col("doc_id") % 1000 < 25), "text", k = 50).count()
      }),
      // the CC trio (t14/t23/t47 shapes — VERDICT r15 #7): minhash pairs
      // feed the O(log n) large-star/small-star closure, then the keeper
      // pick / leakage-safe split ride the cluster map
      "cc_clusters" -> (() => {
        val pairs = operators.Dedup.minhashNearDups(
          table("documents"), "doc_id", "text", 0.5)
        operators.Dedup.nearDupClusters(pairs).count()
      }),
      "cluster_keepers" -> (() => {
        import org.apache.spark.sql.functions.{col, length}
        val d = table("documents")
        val pairs = operators.Dedup.minhashNearDups(d, "doc_id", "text", 0.5)
        val clusters = operators.Dedup.nearDupClusters(pairs)
        operators.Dedup.clusterKeepers(
          d.select(col("doc_id"), length(col("text")).cast("long").as("pref")),
          clusters, "doc_id", "pref").count()
      }),
      "groupaware_split" -> (() => {
        val d = table("documents")
        val pairs = operators.Dedup.minhashNearDups(d, "doc_id", "text", 0.5)
        val clusters = operators.Dedup.nearDupClusters(pairs)
        operators.Sampling.groupAwareSplit(d, "doc_id", clusters, 8000, 1000)
          .groupBy("split").count().count()
      }),
      // the de-serialized sampling family (VERDICT r15 #1): wall must
      // track the BUDGET/QUOTA, not the source size — compare decades
      "stratified_sample" -> (() =>
        operators.Sampling.stratifiedSample(
          table("documents"), "source", "doc_id", 100).count()),
      "temperature_mix" -> (() =>
        operators.Sampling.temperatureRebalance(
          table("documents"), "source", "doc_id", perSqrt = 2).count()),
      "bpe_train" -> (() =>
        operators.TextAnalysis.bpeTrainMerges(table("documents"), "text", 8)
          .map(_._4).sum),
      "bpe_train_batched" -> (() =>
        operators.TextAnalysis.bpeTrainMergesBatched(table("documents"), "text",
          8, batch = 8).map(_._4).sum),
      // production merge count (VERDICT r16 #2): 1024 rules at batch=32 =
      // 32 pair-count rounds; wall must track the Heaps-law word table,
      // not the corpus byte count
      "bpe_train_1k" -> (() => {
        val m = operators.TextAnalysis.bpeTrainMergesBatched(
          table("documents"), "text", 1024, batch = 32)
        println(s"[scale-probe] bpe_train_1k learned=${m.size} rules")
        m.map(_._4).sum
      }),
      // deep-vocabulary shape: 8192 merges at batch=64 = up to 128
      // pair-count rounds — the round loop itself must stay flat into
      // the thousands; reports the actually-learned count (the trainer
      // stops early if the corpus pair space exhausts first)
      "bpe_train_8k" -> (() => {
        val m = operators.TextAnalysis.bpeTrainMergesBatched(
          table("documents"), "text", 8192, batch = 64)
        println(s"[scale-probe] bpe_train_8k learned=${m.size} rules")
        m.map(_._4).sum
      }),
      // the restart contract AT SCALE: train the first half into a Delta
      // merge table, resume to the full 1024, and assert bit-equality
      // with the uninterrupted run — the t70 harness pin probed at the
      // bench SF (the resume pays re-application passes, never
      // pair-count rounds, so wall should sit well under 2x one-shot)
      "bpe_resume_debug" -> (() => {
        val d = table("documents")
        val tbl = java.nio.file.Files.createTempDirectory("graft_dbg_bpe")
          .toString + "/merges"
        val m = sys.env.getOrElse("SPARK_GRAFT_DBG_M", "64").toInt
        val bt = sys.env.getOrElse("SPARK_GRAFT_DBG_BATCH", "8").toInt
        val oneShot = operators.TextAnalysis.bpeTrainMergesBatched(d, "text", m, batch = bt)
        operators.TextAnalysis.bpeTrainMergesBatched(d, "text", m / 2, batch = bt,
          mergeTablePath = Some(tbl))
        val resumed = operators.TextAnalysis.bpeTrainMergesBatched(d, "text", m, batch = bt,
          mergeTablePath = Some(tbl))
        println(s"[dbg] oneShot=${oneShot.size} resumed=${resumed.size}")
        def roundStarts(ms: Seq[(Long, String, String, Long)]): Seq[Int] =
          1 +: (1 until ms.size).collect {
            case i if ms(i)._4 > ms(i - 1)._4 => i + 1 }
        println(s"[dbg] oneShot count-jump ranks: ${roundStarts(oneShot).mkString(",")}")
        println(s"[dbg] resumed count-jump ranks: ${roundStarts(resumed).mkString(",")}")
        oneShot.zip(resumed).find { case (a, b) => a != b } match {
          case Some((a, b)) =>
            val r = a._1.toInt
            println(s"[dbg] FIRST DIFF at rank $r")
            ((r - 3).max(0) until (r + 9).min(oneShot.size)).foreach { i =>
              println(s"[dbg]   one=${oneShot(i)} res=${resumed(i)}")
            }
          case None => println("[dbg] prefix equal; sizes " +
            s"${oneShot.size} vs ${resumed.size}")
        }
        oneShot.size.toLong
      }),
      "bpe_train_resume_1k" -> (() => {
        val d = table("documents")
        val tbl = java.nio.file.Files.createTempDirectory("graft_probe_bpe")
          .toString + "/merges"
        val oneShot = operators.TextAnalysis.bpeTrainMergesBatched(
          d, "text", 1024, batch = 32)
        operators.TextAnalysis.bpeTrainMergesBatched(
          d, "text", 512, batch = 32, mergeTablePath = Some(tbl))
        val resumed = operators.TextAnalysis.bpeTrainMergesBatched(
          d, "text", 1024, batch = 32, mergeTablePath = Some(tbl))
        require(resumed == oneShot, "resumed training drifted from one-shot")
        resumed.map(_._4).sum
      }),
      // the 10M-pair chain re-probe (VERDICT r16 #4): diameter 10^7, the
      // worst case for per-round latency — wall here is dominated by the
      // O(log n) rounds' driver actions, exactly what the fused
      // one-checkpoint-per-round loop shaves; the round count must stay
      // at the proven logarithmic value
      "cc_chain_10m" -> (() => {
        import org.apache.spark.sql.functions.col
        val chain = spark.range(1L, 10000001L)
          .select(col("id").as("doc_a"), (col("id") + 1L).as("doc_b"))
        val (labels, rounds) = operators.Dedup.nearDupClustersWithRounds(chain, localPairs = 0)
        val n = labels.count()
        println(s"[scale-probe] cc_chain_10m rounds=$rounds")
        require(rounds <= 52, s"CC rounds $rounds > logarithmic bound 52")
        n
      }),
      "pii_redact" -> (() => {
        import org.apache.spark.sql.functions.sum
        operators.TextAnalysis.redactPiiTyped(table("documents"), "doc_id", "text")
          .agg(sum("n_emails") + sum("n_phones") + sum("n_ips"))
          .head().getLong(0)
      }),
      // synthetic-volume per-doc kernel (no parquet dependence): the
      // local testdata tops out at sf0.1 (~500 docs), far below what a
      // core-count scaling pair needs — this generates
      // SPARK_GRAFT_SYNTH_DOCS (default 200k) ~1 KB docs via spark.range
      // and runs the codegen'd PII kernel, so `SPARK_GRAFT_CPUS=32 vs 8`
      // measures the kernel's parallel speedup at real volume
      "pii_redact_synth" -> (() => {
        import org.apache.spark.sql.functions._
        val n = sys.env.getOrElse("SPARK_GRAFT_SYNTH_DOCS", "200000").toLong
        val docs = spark.range(0L, n, 1L, spark.sparkContext.defaultParallelism)
          .select(col("id").as("doc_id"),
            concat(lit("contact user"), col("id"), lit("@example.com or 555-010"),
              pmod(col("id"), lit(90)), lit(" from 10.0."), pmod(col("id"), lit(250)),
              lit(".7 "), lit("lorem ipsum dolor sit amet consectetur " * 24)).as("text"))
        operators.TextAnalysis.redactPiiTyped(docs, "doc_id", "text")
          .agg(sum("n_emails") + sum("n_phones") + sum("n_ips"))
          .head().getLong(0)
      }))

    probes.filter(p => only.forall(_.contains(p._1))).foreach { case (name, f) =>
      val t0 = System.nanoTime()
      val n = f()
      println(f"[scale-probe] $name: result=$n%,d in ${(System.nanoTime() - t0) / 1e9}%.1f s")
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }
    spark.stop()
  }
}
