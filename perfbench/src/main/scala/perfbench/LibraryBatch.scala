package perfbench

import scala.collection.mutable

import graft.Tables
import graft.api.{DedupOps, GraphOps, MlOps, PqOps, TextOps}
import graft.operators.CoPurchase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `library_batch`: one pass of the batch curation operators over the
  * seeded documents, embeddings and co-purchase graph, called with the
  * loop parameters the engine's own callers use (see the companion
  * object). Every step is one public call whose result is digested (row
  * count, exact hash sum and hash xor over every column); the digests
  * must agree across passes and with the ones pinned for the input set
  * in `pins.json`. Frames cached by a pass are released with blocking
  * unpersist before the next one.
  *
  * `seed` is the input set, 0 until [[LibraryBatch.InputSets]]; [[Main]]
  * folds the run's seed into that range so every run has pinned digests. */
final class LibraryBatch(val seed: Long, dir: String) extends Workload {
  import LibraryBatch._

  // a smaller corpus and order book than the service tables, and a
  // catalogue of 800 parts (100 per segment), so that about one
  // co-purchase pair in five reaches the support floor MinSupport; with
  // the service tables' 10,000 parts almost none would
  override val sizes: Gen.Sizes = Gen.sizes.copy(orders = 2000, docs = 600, parts = 800)
  val tables: Set[String] = Set("documents", "embeddings", "lineitem")
  val withChanges = false
  val warmPasses = 1
  val minPasses = 2

  /** step -> digests seen, in pass order. */
  val digests = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[String]]

  private var bfsSeeds: Seq[Long] = Nil
  private var rwrSeed = 0L

  private var docs: DataFrame = _
  private var emb: DataFrame = _

  def prepare(h: Harness): Unit = {
    docs = Tables.loadSpread(h.spark, dir, "documents")
    emb = Tables.loadSpread(h.spark, dir, "embeddings")
    // walk and BFS seeds: parts that occur in some order, in a seeded order
    val parts = Tables.load(h.spark, dir, "lineitem").select("l_partkey").distinct()
      .orderBy(xxhash64(lit(seed), col("l_partkey")), col("l_partkey")).limit(9)
      .collect().map(_.getLong(0)).toSeq
    bfsSeeds = parts.take(8)
    rwrSeed = parts.last
  }

  private def step(h: Harness, name: String)(build: => DataFrame): DataFrame = {
    var out: DataFrame = null
    h.op(name) {
      out = h.span("call")(build)
      val d = h.run(out)(h.digest)
      h.resultRows(d.takeWhile(_ != ':').toLong)
      val seen = digests.getOrElseUpdate(name, mutable.ArrayBuffer.empty)
      seen += d
      seen.head == d
    }
    out
  }

  def runPass(h: Harness): Unit = {
    val s = h.spark
    import s.implicits._
    val lsh = step(h, "dedup.minhash_pairs")(
      DedupOps.minhashLshPairs(docs, "doc_id", "text", MinJac))
    step(h, "dedup.cluster_resolve")(DedupOps.clusterResolve(docs, "doc_id", lsh))
    val hashed = step(h, "text.token_hash")(
      TextOps.tokenHashTable(docs, "doc_id", "text", "lang"))
    step(h, "text.near_dup_pairs")(TextOps.nearDupPairs(hashed, MinJac))
    step(h, "text.tfidf")(TextOps.tfidfTopTerms(docs, "doc_id", "text"))
    val cb = step(h, "pq.codebooks")(
      PqOps.pqCodebooks(emb, "vec_id", "embedding", 64, PqM, PqKsub, PqIters))
    step(h, "pq.encode")(PqOps.pqEncode(emb, "vec_id", "embedding", 64, PqM, cb))
    val undw = step(h, "graph.pairs")(CoPurchase.pairW(s, dir))
    val backbone = undw.filter(col("w") >= MinSupport)
    step(h, "graph.lpa")(GraphOps.labelPropagation(backbone, "x", "y", "w", LpaIters))
    step(h, "graph.bfs")(
      GraphOps.multiSourceBfs(undw, "x", "y", bfsSeeds.toDF("src"), BfsDepth))
    step(h, "graph.rwr")(GraphOps.randomWalkRestart(undw, "x", "y", "w",
      Seq(rwrSeed).toDF("v"), Damping, RwrIters))
    step(h, "graph.item_neighbors")(GraphOps.itemNeighbors(backbone, "x", "y", "w", NbrK))
    step(h, "ml.perceptron")(MlOps.perceptronTrace(TextOps.qualityFeatures(docs, "text"),
      Seq("f_ntok", "f_wlen", "f_ttr", "f_stop"), "keep", PercIters))
  }

  override def afterPass(h: Harness): Unit = h.release()

  def inputProps: Seq[(String, String)] = Seq(
    "documents" -> sizes.docs.toString,
    "embeddings" -> sizes.docs.toString,
    "orders" -> sizes.orders.toString,
    "parts" -> sizes.parts.toString)
}

object LibraryBatch {
  /** Input sets with pinned digests; a run uses set `seed mod InputSets`. */
  val InputSets = 32

  // The engine's own loop parameters, restated because the engine keeps
  // them private to its query modules:
  /** LPA rounds: GraphQueries.LpaIters, EtlService.partCommunities. */
  val LpaIters = 2
  /** Co-purchase support floor of the LPA and item-CF backbone:
    * GraphQueries.LinkPredMinSupport, EtlService.partCommunities and
    * EtlService.recommendations. */
  val MinSupport = 2L
  /** Random-walk rounds and damping: GraphQueries (q231),
    * EtlService.relatedParts. */
  val RwrIters = 3
  val Damping = 0.85
  /** BFS depth: GraphQueries.landmarkBfs. */
  val BfsDepth = 3
  /** Item-CF neighbour-list length: GraphQueries.CfNbrK. */
  val NbrK = 10
  /** Product quantization: VectorQueries.PqM, PqKsub, PqIters. */
  val PqM = 16
  val PqKsub = 16
  val PqIters = 4
  /** Perceptron steps: CurationQueries.PercIters. */
  val PercIters = 3
  /** Near-duplicate Jaccard threshold: TextQueries and PipelineQueries. */
  val MinJac = 0.6
}
