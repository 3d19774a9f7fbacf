package graft.perfbench

import graft.delta.GraftDelta
import graft.operators.{Dedup, Similarity, TextAnalysis}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.io.File
import scala.collection.mutable

/** LLM data prep: a seeded corpus of ~1 KB docs with planted exact
  * copies, planted near-dup clusters and planted embedding twins. One
  * loop step is one pass of the pipeline: exact dedup, MinHash pairs,
  * clusters, quality scores, semantic pairs, then one Delta commit of the
  * kept docs and a read-back. Operator kernels and shuffles dominate. */
final class CorpusDedup(run: Run, dir: File, seed: Long, sz: CorpusDedup.Sizes)
    extends Workload(run, dir, seed) {
  import CorpusDedup._

  private val staged = new File(dir, "corpus.parquet").getAbsolutePath
  private var pass = 0
  var table = new File(dir, "kept-0")
  private var keptRows = 0L
  private var expectedUnique = sz.unique.toLong
  private val stats = mutable.LinkedHashMap[String, Double]("docs" -> sz.docs.toDouble)

  private val gen = CorpusGen(seed, sz)
  import gen.{text, vec}
  private val semStart = gen.semStart
  private val semEnd = gen.semEnd

  private def docs: DataFrame = spark.read.parquet(staged)

  def stage(): Unit = {
    val gen = this.gen
    val textUdf = udf((id: Long) => gen.text(id))
    val vecUdf = udf((id: Long) => gen.vec(id).toSeq)
    spark.range(0, sz.docs, 1, sz.stageTasks)
      .select(col("id"), textUdf(col("id")).as("text"), vecUdf(col("id")).as("vec"))
      .write.parquet(staged)
  }

  // ---- the checked pipeline pass -----------------------------------------

  private val plantedNear: Set[(Long, Long)] =
    (0L until sz.nearClusters).flatMap(c => Seq((3 * c, 3 * c + 1), (3 * c, 3 * c + 2),
      (3 * c + 1, 3 * c + 2))).toSet
  private val plantedSem: Set[(Long, Long)] =
    (semStart.toLong until semEnd by 2).map(i => (i, i + 1)).toSet

  private def cosine(a: Long, b: Long): Double = {
    val (x, y) = (vec(a), vec(b))
    val dot = x.indices.map(i => x(i) * y(i)).sum
    dot / math.sqrt(x.map(v => v * v).sum * y.map(v => v * v).sum)
  }

  // state of the pass in flight; each loop step runs one op of it
  private var ex: DataFrame = null
  private var pairs: DataFrame = null
  private var clusters: DataFrame = null
  private var quality: DataFrame = null
  private var found = Set.empty[(Long, Long)]
  private var nearLosers = Set.empty[Long]
  private var semLosers = Set.empty[Long]

  private def exactOp(): Boolean = run.op("exact") {
    Seq(ex, pairs, clusters, quality).filter(_ != null).foreach(_.unpersist(blocking = false))
    ex = run.span("ops.exact") {
      val d = Dedup.exact(docs, Seq("text"), "id").persist()
      d.count(); d
    }
    run.check("exact kept", ex.count(), expectedUnique)
  }

  private def minhashOp(): Boolean = run.op("minhash") {
    pairs = run.span("ops.minhash")(Dedup.minhashNearDups(ex, "id", "text", NearThreshold))
    found = pairs.select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (found & plantedNear).size.toDouble / plantedNear.size
    stats("near_dup_recall") = recall
    stats("pairs_per_planted_pair") = found.size.toDouble / plantedNear.size
    run.check("minhash pairs outside planted clusters", (found -- plantedNear).size, 0) &&
      run.check("minhash recall >= 0.9", recall >= 0.9, true)
  }

  private def clustersOp(): Boolean = run.op("clusters") {
    clusters = run.span("ops.clusters") {
      val c = Dedup.nearDupClusters(pairs.select("doc_a", "doc_b"))
      c.count(); c
    }
    val got = clusters.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = components(found)
    nearLosers = want.collect { case (d, c) if d != c => d }.toSet
    run.check("cluster labels", got, want)
  }

  private def qualityOp(): Boolean = run.op("quality") {
    // persisted, so the write step's join reads the scores instead of
    // running the classifier again inside the Delta write
    quality = TextAnalysis.qualityClassifier(ex, "id", "text", Weights).persist()
    val r = run.span("ops.quality") {
      quality.agg(count(lit(1)), sum("n_feats"), sum(when(col("keep").isin(0, 1), 1L))).head()
    }
    run.check("quality (rows, n_feats, keep flags)", (r.getLong(0), r.getLong(1), r.getLong(2)),
      (expectedUnique, expectedUnique * (2 * Words - 1), expectedUnique))
  }

  private def semanticOp(): Boolean = run.op("semantic") {
    val sp = run.span("ops.semantic") {
      Similarity.semanticNearDups(ex, "id", "vec", SemThreshold, nlist = SemCells,
        nprobe = 1, maxCellSize = sz.docs)
    }
    val got = sp.collect().map(r => (r.getLong(0), r.getLong(1)))
    sp.unpersist(blocking = false)
    val recall = (got.toSet & plantedSem).size.toDouble / plantedSem.size
    stats("semantic_recall") = recall
    semLosers = got.map(_._2).toSet
    run.check("semantic pairs below threshold",
      got.count { case (a, b) => cosine(a, b) < SemThreshold - 1e-4 }, 0) &&
      run.check("semantic recall >= 0.9", recall >= 0.9, true)
  }

  /** One Delta commit of the kept docs, into a fresh table per pass. */
  private def writeOp(): Boolean = run.op("write") {
    val prev = table
    pass += 1
    table = new File(dir, s"kept-$pass")
    Files.rm(prev)
    val drop = spark.createDataFrame((nearLosers ++ semLosers).toSeq.map(Tuple1(_))).toDF("id")
    // materialised first, so the write span covers only the Delta write and commit
    val kept = exec {
      val k = ex.join(quality.select("id", "score"), "id").join(drop, Seq("id"), "left_anti")
        .select("id", "text", "score").persist()
      k.count(); k
    }
    run.span("delta.write.append") {
      GraftDelta.toDelta(kept, table.getAbsolutePath)
    }
    kept.unpersist(blocking = false)
    true
  }

  private def readbackOp(): Boolean = run.op("readback") {
    val losers = nearLosers ++ semLosers
    val r = exec(read(table.getAbsolutePath).agg(count(lit(1)), sum("id")).head())
    keptRows = r.getLong(0)
    tr.attr("rows_returned", keptRows)
    run.check("readback (rows, id sum)", (r.getLong(0), r.getLong(1)),
      (expectedUnique - losers.size, (0L until expectedUnique).sum - losers.sum))
  }

  private val passOps: IndexedSeq[() => Boolean] = IndexedSeq(exactOp _, minhashOp _,
    clustersOp _, qualityOp _, semanticOp _, writeOp _, readbackOp _)

  def step(i: Int): Unit = passOps(i % passOps.size)()
  val mix: Map[String, Int] = Map("exact" -> 1, "minhash" -> 1, "clusters" -> 1,
    "quality" -> 1, "semantic" -> 1, "write" -> 1, "readback" -> 1)
  val reads = Seq("readback")
  val writes = Seq("write")
  def minSteps: Int = passOps.size

  /** Connected components by union-find: doc → smallest id of its
    * component, the label `nearDupClusters` must produce. */
  private def components(edges: Set[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.HashMap[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.toSeq.map(d => d -> find(d)).toMap
  }

  def liveRows: Long = keptRows
  override def counters: Map[String, Double] = stats.toMap

  def corrupt(): Unit = expectedUnique += 1

  def inputBytes(): Iterator[String] =
    Iterator.range(0, sz.docs).map(id => s"$id\t${text(id)}\t${vec(id).mkString(",")}")
}

/** The corpus generator, a pure function of (seed, id). Serializable:
  * the staging job evaluates it on the executors and the checks on the
  * driver. */
final case class CorpusGen(seed: Long, sz: CorpusDedup.Sizes) {
  import CorpusDedup._

  @transient lazy val vocab: Array[String] = Array.tabulate(Vocab) { j =>
    val h = Gen.mix(seed, 60, j)
    val len = 3 + (java.lang.Long.remainderUnsigned(h, 6)).toInt
    (0 until len).map(k => ('a' + ((h >>> (8 + 5 * k)) & 31) % 26).toChar).mkString
  }
  val clusterDocs = 3 * sz.nearClusters
  val semStart = clusterDocs
  val semEnd = semStart + 2 * sz.semanticPairs

  /** Word indices of doc `id`; copies share their source's words. */
  def words(id: Long): Array[Int] =
    if (id >= sz.unique) words(Gen.below(seed, 44, id, sz.unique))
    else if (id < clusterDocs) {
      val c = id / 3
      val w = Array.tabulate(Words)(k => Gen.below(seed, 43, c * Words + k, Vocab).toInt)
      val member = (id % 3).toInt
      if (member > 0) (0 until Edits).foreach { e =>
        val at = Gen.below(seed, 45 + member, c * Edits + e, Words).toInt
        w(at) = ((w(at) + 1 + Gen.below(seed, 48 + member, c * Edits + e, Vocab - 1)) % Vocab).toInt
      }
      w
    } else Array.tabulate(Words)(k => Gen.below(seed, 40, id * Words + k, Vocab).toInt)

  def text(id: Long): String = words(id).map(vocab(_)).mkString(" ")

  /** Embedding of doc `id`: its center plus noise; the second doc of each
    * planted semantic pair sits a hair away from the first. */
  def vec(id: Long): Array[Double] =
    if (id >= sz.unique) vec(Gen.below(seed, 44, id, sz.unique))
    else if (id >= semStart && id < semEnd && (id - semStart) % 2 == 1) {
      val base = vec(id - 1)
      Array.tabulate(Dim)(d => base(d) + 0.01 * (2 * Gen.unit(seed, 53, id * Dim + d) - 1))
    } else {
      val c = Gen.below(seed, 50, id, Centers)
      Array.tabulate(Dim)(d => (2 * Gen.unit(seed, 52, c * Dim + d) - 1) +
        0.6 * (2 * Gen.unit(seed, 51, id * Dim + d) - 1))
    }

}

object CorpusDedup {
  final case class Sizes(docs: Int, nearClusters: Int, semanticPairs: Int, copies: Int,
      stageTasks: Int) {
    /** Docs [0, unique) have distinct texts; the rest copy one of them. */
    def unique: Int = docs - copies
  }
  val Full = Sizes(docs = 3000, nearClusters = 75, semanticPairs = 75, copies = 150,
    stageTasks = 16)
  val Small = Sizes(docs = 400, nearClusters = 10, semanticPairs = 10, copies = 20,
    stageTasks = 4)
  val Words = 150
  val Vocab = 20000
  /** Words replaced in each near-dup variant: its 3-gram Jaccard with
    * the cluster's original stays above 0.85. */
  val Edits = 3
  val Dim = 32
  val Centers = 64
  val SemCells = 24
  val NearThreshold = 0.5
  val SemThreshold = 0.95
  val Weights: IndexedSeq[Int] = TextAnalysis.defaultQualityWeights()
}
