package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph-based ANN — the recall CEILING of the approximate stack: a
  * deterministic single-layer navigable-small-world neighbor graph
  * (NSW; the HNSW family with the hierarchy dropped — one layer plus a
  * beam is enough at the driver-bounded scale this tier serves, and
  * determinism is free: no level RNG to seed). Graph methods dominate
  * space-partitioning ANN (IVF/LSH/PQ) at equal exact-distance budgets
  * because the candidate frontier ADAPTS to the query: each hop expands
  * the current best nodes' neighborhoods instead of a fixed probe set
  * chosen before any distance is known — measured in the `ann_recall`
  * sidecar (`graph` path ~0.97+ at ef=64 on the fixture, vs 0.28-0.44
  * for the probed tiers at comparable budgets).
  *
  * Scale contract (the codebook discipline, one tier up): the graph is
  * a BOUNDED DRIVER ARTIFACT — n·(dim·8 + M·8) bytes, fail-loud past
  * `maxVectors` — built once, then BROADCAST; batch search distributes
  * over the QUERY table (`mapPartitions` — the honest tool here: a beam
  * walk is genuinely sequential per query, and each executor walks its
  * queries against the read-only shared graph; the corpus itself is
  * never scanned at query time at all). This serves the ≤10⁶-vector
  * regime (e.g. a deduplicated centroid/entry table, a hot working
  * set); past the driver ceiling, the IVF/PQ tiers with their
  * partitioned indexes remain the corpus-scale path — composed with
  * this tier via [[ivfGraphProbeBatch]], where the graph serves the
  * CENTROID table (always driver-bounded) and cuts the per-query cell
  * ranking from |C| to ~ef·M distance evaluations.
  *
  * Determinism: insertion in ascending id order, ties broken by id
  * everywhere (candidate ranking, neighbor pruning, beam pops), entry
  * point = lowest id — two builds over the same rows are structurally
  * identical, and GraphAnnSpec pins search determinism and the
  * exactness control.
  */
object GraphAnn {

  /** Driver/broadcast graph artifact: row i of `ids` owns
    * `vecs(i*dim..)` and adjacency `nbrs(i)` (indices into `ids`,
    * sim-descending). Cosine metric; norms precomputed. */
  final case class Graph(ids: Array[Long], dim: Int, vecs: Array[Double],
                         norms: Array[Double], nbrs: Array[Array[Int]])
    extends Serializable {
    def size: Int = ids.length
  }

  val MaxGraphVectors: Int = 1 << 20 // 1M × 64d ≈ 512 MB + M·8/row: size the driver

  private def cosAt(g: Graph, i: Int, q: Array[Double], qn: Double): Double = {
    var acc = 0.0
    val off = i * g.dim
    var d = 0
    while (d < g.dim) { acc += g.vecs(off + d) * q(d); d += 1 }
    acc / (g.norms(i) * qn)
  }

  /** Best-first beam over the graph: expand the closest unexpanded
    * candidate until none can improve the worst of the `ef` best seen.
    * Returns up to `ef` (index, sim) pairs, sim-descending, id-tied.
    * Deterministic: the frontier orders by (sim DESC, id ASC). */
  private[operators] def beam(g: Graph, q: Array[Double], qn: Double,
                              entry: Int, ef: Int): Array[(Int, Double)] = {
    val visited = new java.util.HashSet[Integer]()
    implicit val ord: Ordering[(Double, Long, Int)] =
      Ordering.Tuple3(Ordering.Double.TotalOrdering, Ordering.Long, Ordering.Int)
    // frontier: best first => max-heap on (sim, -id); results: worst first
    val frontier = scala.collection.mutable.PriorityQueue.empty[(Double, Long, Int)]
    val results = scala.collection.mutable.PriorityQueue.empty[(Double, Long, Int)](ord.reverse)
    val e0 = cosAt(g, entry, q, qn)
    visited.add(entry)
    frontier.enqueue((e0, -g.ids(entry), entry))
    results.enqueue((e0, -g.ids(entry), entry))
    while (frontier.nonEmpty) {
      val (sim, _, node) = frontier.dequeue()
      val worst = results.head._1
      if (sim < worst && results.size >= ef) {
        frontier.clear() // nothing in the frontier can improve the beam
      } else {
        val ns = g.nbrs(node)
        var j = 0
        while (j < ns.length) {
          val nb = ns(j)
          if (!visited.contains(nb)) {
            visited.add(nb)
            val s = cosAt(g, nb, q, qn)
            if (results.size < ef || s > results.head._1 ||
              (s == results.head._1 && -g.ids(nb) > results.head._2)) {
              frontier.enqueue((s, -g.ids(nb), nb))
              results.enqueue((s, -g.ids(nb), nb))
              if (results.size > ef) results.dequeue()
            }
          }
          j += 1
        }
      }
    }
    val drained: Seq[(Double, Long, Int)] = results.dequeueAll
    lastBeamVisited.set(visited.size())
    drained.reverse.map { case (s, _, i) => (i, s) }.toArray
  }

  /** Distance evaluations of the MOST RECENT [[beam]] call on this
    * thread (== visited nodes: one cosine per visit) — the walk's
    * measured cost, read by the [[AnnRecall]] scan-cost audit right
    * after a driver-side search. Thread-local so concurrent executor
    * walks cannot race it. */
  private val lastBeamVisited = new ThreadLocal[Integer] {
    override def initialValue(): Integer = 0
  }

  /** The most recent [[beam]]'s visit count on this thread — the
    * executor-side reader ([[GraphShards]] attaches it to each walk's
    * candidate rows; driver callers use [[searchGraphWithCost]]). */
  private[operators] def lastVisited(): Long = lastBeamVisited.get().toLong

  /** One driver-side search's cost: (top-k ids, distance evaluations).
    * Same beam as [[searchGraph]], cost attached. */
  def searchGraphWithCost(g: Graph, queryVec: Seq[Double], k: Int,
                          ef: Int): (Seq[(Long, Double)], Long) = {
    val res = searchGraph(g, queryVec, k, ef)
    (res, lastBeamVisited.get().toLong)
  }

  /** Build the NSW graph: nodes insert in ascending id order; each new
    * node beam-searches the graph-so-far (`efConstruction`), links to
    * its `m` best-found neighbors BIDIRECTIONALLY, and any overflowing
    * neighbor list prunes back to its `m` best (sim DESC, id ASC) — the
    * standard NSW construction, deterministic throughout. One bounded
    * collect of (id, vec); O(n · efConstruction · M · dim) driver work
    * — measured ~0.4 s at 2000×64-d (default knobs), which
    * extrapolates to tens of minutes single-threaded at the 2^20
    * ceiling: budget the bootstrap accordingly (it is a ONE-time cost;
    * [[graft.streaming.StreamGraphIndex]] amortizes growth as per-batch
    * incremental inserts, and serving cost is independent of build). */
  def buildGraph(df: DataFrame, idCol: String, vecCol: String,
                 m: Int = 16, efConstruction: Int = 64,
                 maxVectors: Int = MaxGraphVectors): Graph = {
    require(m >= 1, "m must be >= 1")
    require(efConstruction >= m, "efConstruction must be >= m")
    val rows = df
      .select(col(idCol).cast("long"), Similarity.vecD(col(vecCol)))
      .orderBy(col(idCol)).head(maxVectors + 1)
    require(rows.nonEmpty, "graph build over an empty corpus")
    require(rows.length <= maxVectors,
      s"more than $maxVectors vectors: past the driver-graph ceiling — " +
        "shard by IVF cell ([[GraphShards]]) or raise maxVectors with " +
        "the memory arithmetic in the scaladoc")
    buildGraphFromRows(
      rows.map(r => (r.getLong(0), r.getSeq[Double](1))), m, efConstruction)
  }

  /** The construction core on in-memory (id, vec) rows, ASCENDING-id
    * sorted by the caller — shared by the driver [[buildGraph]] and the
    * per-cell executor builds ([[GraphShards]]): array fill + validation
    * + the deterministic NSW insertion loop. Runs wherever the rows
    * already are; does no Spark work. */
  private[graft] def buildGraphFromRows(rows: Seq[(Long, Seq[Double])],
                                        m: Int, efC: Int,
                                        work: BuildWork = null): Graph = {
    val g = allocGraph(rows)
    insertRange(g, 1, m, efC, work)
    g
  }

  /** Distance evaluations of one construction, recorded per batch of tasks
    * that may run concurrently as (total, largest single task). The
    * sequential build records every node insertion as a batch of its own.
    * A greedy scheduler finishes a batch on `p` cores within total / p +
    * largest evaluations (Brent), so [[boundAt]] bounds the whole build's
    * distance work at any core count from counts no host can move. */
  private[operators] final class BuildWork {
    private var total = 0L
    private var critical = 0L
    private[GraphAnn] def record(tasks: Array[Long]): Unit =
      if (tasks.nonEmpty) { total += tasks.sum; critical += tasks.max }
    def evaluations: Long = total
    /** The serial part: the largest task of every batch, one after another. */
    def span: Long = critical
    def boundAt(p: Int): Double = total.toDouble / p + critical
  }

  /** Array fill + validation shared by every construction path. */
  private def allocGraph(rows: Seq[(Long, Seq[Double])]): Graph = {
    require(rows.nonEmpty, "graph build over an empty row set")
    val n = rows.length
    val ids = rows.map(_._1).toArray
    val dim = rows.head._2.length
    val vecs = new Array[Double](n * dim)
    val norms = new Array[Double](n)
    var i = 0
    while (i < n) {
      val v = rows(i)._2
      require(v.length == dim, s"ragged vector at id ${ids(i)}")
      var acc = 0.0
      var d = 0
      while (d < dim) { val x = v(d); vecs(i * dim + d) = x; acc += x * x; d += 1 }
      norms(i) = math.sqrt(acc)
      require(norms(i) > 0, s"zero-norm vector at id ${ids(i)} (cosine undefined)")
      i += 1
    }
    Graph(ids, dim, vecs, norms, Array.fill(n)(Array.empty[Int]))
  }

  /** The shared NSW insertion loop: nodes [start, g.size) link into the
    * graph-so-far in index order (beam at efC, bidirectional links,
    * prune-back to m). Indices below `start` must already form the
    * existing graph; new nodes' adjacency must be empty. Mutates
    * `g.nbrs` slots only (inner arrays are replaced, never mutated, so
    * a copied outer array fully isolates an old graph). */
  private def pruneNode(g: Graph, node: Int, m: Int): Int = {
    val n = g.nbrs(node).length
    if (n <= m) 0
    else {
      val q = new Array[Double](g.dim)
      System.arraycopy(g.vecs, node * g.dim, q, 0, g.dim)
      g.nbrs(node) = g.nbrs(node)
        .map(nb => (nb, cosAt(g, nb, q, g.norms(node))))
        .sortBy { case (nb, s) => (-s, g.ids(nb)) }
        .take(m).map(_._1)
      n // distance evaluations
    }
  }

  private def insertRange(g: Graph, start: Int, m: Int, efC: Int,
                          work: BuildWork = null): Unit = {
    var i = math.max(start, 1) // node 0 is the entry: nothing to link to
    while (i < g.size) {
      val q = new Array[Double](g.dim)
      System.arraycopy(g.vecs, i * g.dim, q, 0, g.dim)
      val found = beam(g, q, g.norms(i), entry = 0, ef = efC)
      var evals = lastVisited()
      val chosen = found.take(m).map(_._1)
      g.nbrs(i) = chosen
      chosen.foreach { nb =>
        g.nbrs(nb) = g.nbrs(nb) :+ i
        evals += pruneNode(g, nb, m)
      }
      if (work != null) work.record(Array(evals))
      i += 1
    }
  }

  /** BATCH-SYNCHRONOUS insertion — [[insertRange]]'s parallel twin for
    * the bootstrap: nodes insert in DOUBLING GENERATIONS [n, 2n). Within
    * a generation every node's beam search runs CONCURRENTLY against the
    * FROZEN graph of all previous generations (pure reads — generation
    * nodes have no incoming edges yet, so no beam can reach them and no
    * thread observes a partial write); the chosen links then APPLY
    * sequentially in index order (bidirectional link + prune-back, the
    * construction rule unchanged). Deterministic by construction: each
    * beam depends only on the frozen prefix and writes only its own
    * result slot, and the apply phase is single-threaded in a fixed
    * order — thread scheduling cannot reach the output
    * (GraphParallelSpec pins build-for-build identity).
    *
    * Doubling keeps the frozen prefix ≥ the generation size, so every
    * node still chooses from a graph at least half its final index —
    * the quality cost vs the strictly-sequential build is that
    * same-generation nodes cannot link to each other directly (reverse
    * links from later generations repair most of it; the recall floor
    * is spec-pinned on the real fixture). Wall-clock: the beam phase —
    * all of the construction's distance work — parallelizes across
    * cores; the apply phase is O(gen·m) list surgery. */
  private def insertRangeBatched(g: Graph, start: Int, m: Int,
                                 efC: Int, work: BuildWork = null): Unit = {
    var lo = math.max(start, 1)
    while (lo < g.size) {
      val hi = math.min(math.max(lo * 2, lo + 1), g.size)
      val chosen = new Array[Array[Int]](hi - lo)
      val beamEvals = new Array[Long](hi - lo)
      java.util.stream.IntStream.range(lo, hi).parallel().forEach { i =>
        val q = new Array[Double](g.dim)
        System.arraycopy(g.vecs, i * g.dim, q, 0, g.dim)
        chosen(i - lo) = beam(g, q, g.norms(i), entry = 0, ef = efC)
          .take(m).map(_._1)
        beamEvals(i - lo) = lastVisited()
      }
      if (work != null) work.record(beamEvals)
      // apply: each new node takes its chosen list (disjoint slots),
      // and the generation's REVERSE links aggregate per target first —
      // one bulk extend + at most one SLACK prune (2m → m) per touched
      // node per generation, instead of a copying append + sort per
      // edge. Slack keeps the top-m of a LARGER candidate pool, so
      // quality is preserved (recall floor spec-pinned); the final pass
      // below restores the exact ≤m serving invariant. Determinism:
      // backlink buffers fill in ascending inserter order, and each
      // target's extend+prune is independent of every other's, so the
      // parallel application cannot reorder anything observable.
      val extra = new java.util.HashMap[Integer,
        scala.collection.mutable.ArrayBuffer[Int]]()
      var i = lo
      while (i < hi) {
        val ch = chosen(i - lo)
        g.nbrs(i) = ch
        ch.foreach { nb =>
          extra.computeIfAbsent(nb,
            _ => new scala.collection.mutable.ArrayBuffer[Int]) += i
        }
        i += 1
      }
      val targets = extra.keySet().toArray(Array.empty[Integer])
      val pruneEvals = new Array[Long](targets.length)
      java.util.stream.IntStream.range(0, targets.length).parallel().forEach { t =>
        val nb = targets(t).intValue
        g.nbrs(nb) = g.nbrs(nb) ++ extra.get(targets(t))
        if (g.nbrs(nb).length > 2 * m) pruneEvals(t) = pruneNode(g, nb, m)
      }
      if (work != null) work.record(pruneEvals)
      lo = hi
    }
    // final prune to the serving degree bound — each node's prune only
    // touches its own list, so the pass parallelizes safely
    val finalEvals = new Array[Long](g.size)
    java.util.stream.IntStream.range(0, g.size).parallel()
      .forEach { i => finalEvals(i) = pruneNode(g, i, m) }
    if (work != null) work.record(finalEvals)
  }

  /** [[buildGraph]] with the batch-synchronous PARALLEL construction —
    * the bootstrap path for large graphs (the sequential build
    * extrapolates to tens of minutes at the 2^20 ceiling; this one
    * divides the distance work by the core count). Same validation,
    * ceiling, and serving artifact; adjacency differs from the
    * sequential build (a different — equally deterministic —
    * insertion schedule), so recall is pinned by its own measured
    * floor, not by structural equality. */
  def buildGraphParallel(df: DataFrame, idCol: String, vecCol: String,
                         m: Int = 16, efConstruction: Int = 64,
                         maxVectors: Int = MaxGraphVectors): Graph = {
    require(m >= 1, "m must be >= 1")
    require(efConstruction >= m, "efConstruction must be >= m")
    val rows = df
      .select(col(idCol).cast("long"), Similarity.vecD(col(vecCol)))
      .orderBy(col(idCol)).head(maxVectors + 1)
    require(rows.nonEmpty, "graph build over an empty corpus")
    require(rows.length <= maxVectors,
      s"more than $maxVectors vectors: past the driver-graph ceiling — " +
        "shard by IVF cell ([[GraphShards]]) or raise maxVectors")
    buildGraphParallelFromRows(
      rows.map(r => (r.getLong(0), r.getSeq[Double](1))), m, efConstruction)
  }

  /** [[buildGraphParallel]]'s construction on in-memory (id, vec) rows,
    * ascending-id sorted by the caller; `work`, when set, receives the
    * schedule's distance evaluations. */
  private[operators] def buildGraphParallelFromRows(
      rows: Seq[(Long, Seq[Double])], m: Int, efC: Int,
      work: BuildWork = null): Graph = {
    val g = allocGraph(rows)
    insertRangeBatched(g, 1, m, efC, work)
    g
  }

  /** INCREMENTAL insert — the NSW build IS a sequence of inserts, so a
    * standing graph absorbs new vectors with the exact construction
    * rule the bootstrap used (beam, bidirectional link, prune-back):
    * new rows insert in ascending id order AFTER everything already
    * present; rows whose id is already in the graph are SKIPPED
    * (content-addressed idempotence — a replayed batch inserts
    * nothing). The driver ceiling applies to DISTINCT NEW ids (the
    * replayed/duplicate prefix of a mixed batch cannot eat the fetch
    * window): either every new vector inserts, or the ceiling require
    * fails loud — never a silently incomplete graph. The input graph is never mutated (outer adjacency array
    * copied; inner arrays are replace-only). Graph structure therefore
    * depends on ARRIVAL order across batches — inherent to incremental
    * NSW and fine for serving: search quality is pinned by measured
    * recall, and replays reproduce the structure bit-for-bit
    * (StreamGraphIndexSpec). */
  def insertVectors(g: Graph, df: DataFrame, idCol: String, vecCol: String,
                    m: Int = 16, efConstruction: Int = 64,
                    maxVectors: Int = MaxGraphVectors): Graph = {
    require(m >= 1 && efConstruction >= m, "need efConstruction >= m >= 1")
    val spark = df.sparkSession
    import spark.implicits._
    // already-present ids anti-filter and per-id dedup BEFORE the
    // driver-side cap: the sentinel fetch must count DISTINCT NEW ids
    // only, or an oversized mixed batch (replayed low ids + new high
    // ids, possibly with duplicate rows) inflates the fetch window and
    // truncates the new tail while the ceiling require still passes —
    // a silently incomplete serving index. The graph id table is
    // driver-bounded (≤ maxVectors longs), so the broadcast anti-join
    // is cheap; within-batch duplicate ids collapse deterministically
    // (lexicographically-least vector — identical payloads under
    // content-addressed replay, so normally a no-op choice).
    val existDf = spark.createDataset(g.ids.toIndexedSeq).toDF("_gid")
    val rows = df
      .select(col(idCol).cast("long").as("_nid"), Similarity.vecD(col(vecCol)).as("_nvec"))
      .join(broadcast(existDf), col("_nid") === col("_gid"), "left_anti")
      .groupBy(col("_nid")).agg(min(col("_nvec")).as("_nvec"))
      .orderBy(col("_nid")).head(maxVectors + 1)
    if (rows.isEmpty) return g
    require(g.size + rows.length <= maxVectors,
      s"graph would grow to ${g.size + rows.length} vectors: past the " +
        "driver-graph ceiling")
    insertVectorsLocal(g,
      rows.map(r => (r.getLong(0), r.getSeq[Double](1))), m, efConstruction)
  }

  /** The incremental-insert core on in-memory rows — NEW ids only,
    * ascending-id sorted and deduplicated by the caller (ceiling checks
    * are the caller's too): grow the arrays, validate, run the
    * insertion loop. Shared by the driver [[insertVectors]] and the
    * per-cell executor maintenance ([[graft.streaming
    * .StreamGraphShards]]). The input graph is never mutated. */
  private[graft] def insertVectorsLocal(g: Graph,
                                        newRows: Seq[(Long, Seq[Double])],
                                        m: Int, efC: Int): Graph = {
    if (newRows.isEmpty) return g
    val n = g.size + newRows.length
    val ids = java.util.Arrays.copyOf(g.ids, n)
    val vecs = java.util.Arrays.copyOf(g.vecs, n * g.dim)
    val norms = java.util.Arrays.copyOf(g.norms, n)
    val nbrs = java.util.Arrays.copyOf(g.nbrs, n)
    var i = g.size
    newRows.foreach { case (id, v) =>
      require(v.length == g.dim, s"ragged vector at id $id")
      var acc = 0.0
      var d = 0
      while (d < g.dim) { val x = v(d); vecs(i * g.dim + d) = x; acc += x * x; d += 1 }
      ids(i) = id
      norms(i) = math.sqrt(acc)
      require(norms(i) > 0, s"zero-norm vector at id $id (cosine undefined)")
      nbrs(i) = Array.empty[Int]
      i += 1
    }
    val g2 = Graph(ids, g.dim, vecs, norms, nbrs)
    insertRange(g2, g.size, m, efC)
    g2
  }

  /** Search for ONE query vector: beam at `ef`, exact top-`k` of the
    * beam (sim DESC, id ASC), query id excluded by the caller if the
    * query is a corpus row. Driver-side; the batch tier below is the
    * deployment shape. */
  def searchGraph(g: Graph, queryVec: Seq[Double], k: Int,
                  ef: Int): Seq[(Long, Double)] = {
    require(k >= 1 && ef >= k, "need ef >= k >= 1")
    val q = queryVec.toArray
    require(q.length == g.dim, s"query dim ${q.length} != graph dim ${g.dim}")
    val qn = math.sqrt(q.map(x => x * x).sum)
    beam(g, q, qn, entry = 0, ef = ef)
      .sortBy { case (i, s) => (-s, g.ids(i)) }
      .take(k).map { case (i, s) => (g.ids(i), s) }.toSeq
  }

  /** BATCH graph search — the deployment shape: the graph broadcasts
    * once (read-only, shared per executor) and the QUERY table
    * distributes; each partition walks its queries sequentially
    * (`mapPartitions` — per-query beam walks are imperative by nature;
    * this is the documented last-resort tier used deliberately). The
    * corpus is never scanned. Output: (qid, idCol, cos_r, rank) with
    * [[Similarity]]'s rounding/tie conventions; self-matches excluded
    * like every ANN path here. */
  def graphTopKBatch(queries: DataFrame, idCol: String, vecCol: String,
                     g: Graph, k: Int, ef: Int,
                     excludeSelf: Boolean = true): DataFrame = {
    require(k >= 1 && ef >= k, "need ef >= k >= 1")
    val spark = queries.sparkSession
    import spark.implicits._
    val bg = spark.sparkContext.broadcast(g)
    val qds = queries
      .select(col(idCol).cast("long"), Similarity.vecD(col(vecCol)))
      .as[(Long, Seq[Double])]
    qds.mapPartitions { it =>
      val gg = bg.value
      it.flatMap { case (qid, qv) =>
        val q = qv.toArray
        val qn = math.sqrt(q.map(x => x * x).sum)
        beam(gg, q, qn, entry = 0, ef = ef)
          .filter { case (i, _) => !excludeSelf || gg.ids(i) != qid }
          .sortBy { case (i, s) => (-s, gg.ids(i)) }
          .take(k)
          .zipWithIndex
          .map { case ((i, s), r) =>
            val rounded = java.math.BigDecimal.valueOf(s)
              .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
            (qid, gg.ids(i), rounded, (r + 1).toLong) }
      }
    }.toDF("qid", idCol, "cos_r", "rank")
  }

  /** HARD-NEGATIVE mining served by the graph tier — the ANN-probe swap
    * [[Similarity.hardNegatives]]'s scaladoc promises at corpus scale,
    * implemented: the beam OVER-FETCHES (`ef` candidates ≫ k), corpus
    * labels join onto the bounded candidate set (|Q|·ef rows — never a
    * corpus crossJoin), same-label rows filter out, and the per-query
    * top-k of the survivors are the mined negatives. Recall of the TRUE
    * hardest negatives follows the graph tier's measured recall
    * (`ann_recall` graph_ef64 ≈ 0.98) times the over-fetch slack —
    * GraphAnnSpec measures it against the exact miner on the fixture.
    * Output: (qid, rank, idCol, cos_r) — [[Similarity.hardNegatives]]'s
    * schema, so the two tiers swap freely. A query whose beam holds
    * fewer than `k` wrong-label survivors returns fewer rows — widen
    * `ef` (the over-fetch) when same-label mass dominates the
    * neighborhoods. */
  def hardNegativesGraph(corpus: DataFrame, queries: DataFrame,
                         idCol: String, vecCol: String, labelCol: String,
                         k: Int, g: Graph, ef: Int): DataFrame = {
    require(ef >= k, "over-fetch ef must be >= k")
    val beamHits = graphTopKBatch(queries, idCol, vecCol, g, k = ef, ef = ef)
      .select(col("qid"), col(idCol), col("cos_r"))
    val labels = corpus.select(col(idCol), col(labelCol))
    val qLabels = queries.select(col(idCol).cast("long").as("qid"),
      col(labelCol).as("_qlabel"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("qid")
      .orderBy(col("cos_r").desc, col(idCol).asc)
    labels.join(broadcast(beamHits), Seq(idCol))
      .join(broadcast(qLabels), Seq("qid"))
      .filter(col(labelCol) =!= col("_qlabel"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col(idCol), col("cos_r"))
  }

  /** IVF with a GRAPH-PROBED quantizer — the composition that carries
    * the graph tier past its driver ceiling (the faiss IVF-HNSW
    * pattern): the corpus stays in its partitioned IVF cells (corpus
    * scale, unchanged), but the per-query CELL RANKING — brute |C| dot
    * products per query in [[Similarity.ivfTopKCentsBatch]], the term
    * that hurts at 64k+ centroids — becomes a beam walk over a graph
    * built on the CENTROID TABLE (bounded by construction: centroids
    * are a driver artifact already). Probe cost per query drops from
    * |C| to ~ef·M distance evaluations; everything downstream
    * (assignment scan, probed-cell equi-join, exact rerank) is the
    * batch IVF plan verbatim. With `ef ≥ |C|` the beam saturates the
    * complete centroid graph and the whole operator equals
    * [[Similarity.ivfTopKCentsBatch]] exactly (GraphAnnSpec's control);
    * at scale the probe becomes approximate with the graph tier's
    * measured recall. */
  def ivfGraphProbeBatch(corpus: DataFrame, queries: DataFrame,
                         idCol: String, vecCol: String, cents: DataFrame,
                         k: Int, nprobe: Int = 2, m: Int = 16,
                         efConstruction: Int = 64, ef: Int = 64): DataFrame = {
    val cg = buildGraph(
      cents.select(col("cent_id").as(idCol), col("cent_vec").as(vecCol)),
      idCol, vecCol, m, efConstruction)
    ivfGraphProbeBatchWith(corpus, queries, idCol, vecCol, cents, cg, k,
      nprobe, ef)
  }

  /** [[ivfGraphProbeBatch]] with a PREBUILT centroid graph — the serving
    * shape: the centroid graph is a standing artifact (build once, or
    * maintain it with [[graft.streaming.StreamGraphIndex]] as the
    * centroid book evolves), so repeated query batches pay only the
    * probe walk, never a rebuild. */
  def ivfGraphProbeBatchWith(corpus: DataFrame, queries: DataFrame,
                             idCol: String, vecCol: String,
                             cents: DataFrame, cg: Graph, k: Int,
                             nprobe: Int = 2, ef: Int = 64): DataFrame = {
    require(nprobe >= 1, "nprobe must be >= 1")
    // a STALE graph would rank cells the assignment no longer produces
    // and silently drop every row at the cell join — fail loud instead
    // (the centroid table is driver-bounded by contract, so the id
    // check is one bounded collect)
    val centIds = cents.select(col("cent_id").cast("long"))
      .collect().map(_.getLong(0)).toSet
    val orphan = cg.ids.find(!centIds.contains(_))
    require(orphan.isEmpty,
      s"centroid graph is stale: graph node ${orphan.get} is not a " +
        "cent_id of the given centroid table — rebuild the graph")
    // the converse hole is just as silent: a centroid with NO graph
    // node can never be ranked, so every corpus row assigned to its
    // cell becomes unreachable at the cell join — fail loud and tell
    // the caller to grow the graph
    val gset = cg.ids.toSet
    val unserved = centIds.find(!gset.contains(_))
    require(unserved.isEmpty,
      s"centroid graph is incomplete: cent_id ${unserved.get} has no " +
        "graph node, so its cell is unprobeable — insertVectors the new " +
        "centroids into the graph before probing")
    // rank cells by walking the centroid graph; self-exclusion OFF:
    // cent_ids and query ids are different id spaces, and a query row
    // IS allowed to probe the cell of the centroid sharing its raw id
    val probed = graphTopKBatch(queries, idCol, vecCol, cg,
      k = nprobe, ef = ef, excludeSelf = false)
      .select(col("qid"), col(idCol).as("cell"))
    val base = Similarity.withNorm(corpus, vecCol)
    val assigned = Similarity.assignCells(base, idCol, cents)
      .select(col(idCol), col("vecd"), col("norm"), col("cell"))
    val q = Similarity.withNorm(queries, vecCol)
      .select(col(idCol).cast("long").as("qid"), col("vecd").as("qvec"),
        col("norm").as("qnorm"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("qid")
      .orderBy(col("cos_r").desc, col(idCol).asc)
    assigned.join(broadcast(probed), Seq("cell"))
      .filter(col(idCol) =!= col("qid"))
      .join(broadcast(q), Seq("qid"))
      .select(col("qid"), col(idCol), col("cell"),
        round(Similarity.cosine(col("vecd"), col("qvec"), col("norm"),
          col("qnorm")), 6).as("cos_r"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Materialize the graph beside the data (the LSH/IVF index-sidecar
    * discipline): one parquet of (id, vec, neighbor ids). [[loadIndex]]
    * rebuilds the SAME artifact (adjacency preserved verbatim, no
    * reconstruction), so index and probe can never disagree. */
  def writeIndex(g: Graph, spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    g.ids.indices.map { i =>
      // ord preserves INSERTION order: node 0 is the beam entry point,
      // and an incrementally-grown graph is not id-sorted — the loader
      // must reconstruct the same node indexing, not a re-sorted one
      (i.toLong, g.ids(i), g.vecs.slice(i * g.dim, (i + 1) * g.dim).toSeq,
        g.nbrs(i).map(g.ids(_)).toSeq)
    }.toDF("ord", "id", "vec", "nbr_ids")
      .coalesce(1).write.mode("overwrite").parquet(dir)
  }

  def loadIndex(spark: SparkSession, dir: String): Graph = {
    val rows = spark.read.parquet(dir).orderBy("ord")
      .select("id", "vec", "nbr_ids").collect()
    require(rows.nonEmpty, "empty graph index")
    val n = rows.length
    val ids = rows.map(_.getLong(0))
    val idToIdx = ids.zipWithIndex.toMap
    val dim = rows.head.getSeq[Double](1).length
    val vecs = new Array[Double](n * dim)
    val norms = new Array[Double](n)
    val nbrs = new Array[Array[Int]](n)
    var i = 0
    while (i < n) {
      val v = rows(i).getSeq[Double](1)
      var acc = 0.0
      var d = 0
      while (d < dim) { val x = v(d); vecs(i * dim + d) = x; acc += x * x; d += 1 }
      norms(i) = math.sqrt(acc)
      nbrs(i) = rows(i).getSeq[Long](2).map(idToIdx).toArray
      i += 1
    }
    Graph(ids, dim, vecs, norms, nbrs)
  }
}
