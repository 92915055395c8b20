package perfbench

import scala.collection.mutable.ArrayBuffer

/** Seeded graph inputs for the fixpoint workload and driver-side
  * reference answers for the three graph operators.
  *
  * A graph is a set of chains of seeded lengths with random chords
  * inside each chain (one per four nodes, at least one), over node ids
  * 0 until `nodes` in a seeded permutation (so a chain's head is not its
  * minimum id). Chains stay disjoint, so the components are the chains
  * and CC's round count follows the largest chain diameter, which the
  * chords make vary from graph to graph.
  */
object Graphs {

  final case class Graph(
      src: Array[Long], dst: Array[Long], nodes: Int, chains: Int,
      longestChain: Int, diameter: Int)

  def generate(seed: Long, nodes: Int, minChain: Int, maxChain: Int): Graph = {
    val rnd = new java.util.SplittableRandom(seed)
    val ids = Array.tabulate(nodes)(_.toLong)
    for (i <- nodes - 1 to 1 by -1) {
      val j = rnd.nextInt(i + 1)
      val t = ids(i); ids(i) = ids(j); ids(j) = t
    }
    val src = ArrayBuffer.empty[Long]
    val dst = ArrayBuffer.empty[Long]
    var pos = 0
    var chains = 0
    var longest = 0
    var diameter = 0
    while (pos < nodes) {
      var len = math.min(minChain + rnd.nextInt(maxChain - minChain + 1), nodes - pos)
      if (nodes - pos - len == 1) len += 1 // no single-node tail chain
      val local = ArrayBuffer.tabulate(len - 1)(k => (k, k + 1))
      for (_ <- 0 until math.max(1, len / 4)) {
        val a = rnd.nextInt(len)
        val b = rnd.nextInt(len)
        if (a != b) local += ((a, b))
      }
      local.foreach { case (a, b) => src += ids(pos + a); dst += ids(pos + b) }
      chains += 1
      longest = math.max(longest, len)
      diameter = math.max(diameter, chainDiameter(len, local.toSeq))
      pos += len
    }
    Graph(src.toArray, dst.toArray, nodes, chains, longest, diameter)
  }

  /** Largest shortest-path distance in one connected chain of `len`
    * nodes, by a breadth-first search from every node.
    */
  private def chainDiameter(len: Int, edges: Seq[(Int, Int)]): Int = {
    val adj = Array.fill(len)(ArrayBuffer.empty[Int])
    edges.foreach { case (a, b) => adj(a) += b; adj(b) += a }
    (0 until len).map { s =>
      val dist = Array.fill(len)(-1)
      dist(s) = 0
      val queue = scala.collection.mutable.Queue(s)
      while (queue.nonEmpty) {
        val v = queue.dequeue()
        adj(v).foreach(u => if (dist(u) < 0) { dist(u) = dist(v) + 1; queue += u })
      }
      dist.max
    }.max
  }

  /** Symmetric, de-duplicated adjacency without self-loops (the
    * operators' edge contract), as sorted neighbour arrays per node.
    */
  private def adjacency(g: Graph): Array[Array[Int]] = {
    val sets = Array.fill(g.nodes)(scala.collection.mutable.Set.empty[Int])
    for (i <- g.src.indices if g.src(i) != g.dst(i)) {
      val a = g.src(i).toInt
      val b = g.dst(i).toInt
      sets(a) += b
      sets(b) += a
    }
    sets.map(_.toArray.sorted)
  }

  /** Component label (minimum node id) per edge-incident node, by
    * union-find.
    */
  def components(g: Graph): Map[Long, Long] = {
    val parent = Array.tabulate(g.nodes)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var y = x
      while (parent(y) != r) { val n = parent(y); parent(y) = r; y = n }
      r
    }
    for (i <- g.src.indices if g.src(i) != g.dst(i)) {
      val a = find(g.src(i).toInt)
      val b = find(g.dst(i).toInt)
      if (a != b) { if (a < b) parent(b) = a else parent(a) = b }
    }
    val adj = adjacency(g)
    adj.indices.filter(adj(_).nonEmpty).map(v => v.toLong -> find(v).toLong).toMap
  }

  /** Synchronous label propagation: every node takes the most frequent
    * label among itself and its neighbours, ties to the smallest label.
    */
  def communities(g: Graph, rounds: Int): Map[Long, Long] = {
    val adj = adjacency(g)
    val live = adj.indices.filter(adj(_).nonEmpty)
    var labels = Array.tabulate(g.nodes)(_.toLong)
    for (_ <- 1 to rounds) {
      val next = labels.clone()
      for (v <- live) {
        val votes = scala.collection.mutable.HashMap(labels(v) -> 1)
        adj(v).foreach(u => votes(labels(u)) = votes.getOrElse(labels(u), 0) + 1)
        next(v) = votes.toSeq.minBy { case (l, c) => (-c, l) }._1
      }
      labels = next
    }
    live.map(v => v.toLong -> labels(v)).toMap
  }

  /** Integer PageRank: r(v) = 150000 + sum over neighbours u of
    * floor(r(u) * 85 / (100 * deg(u))), from r = 1000000. Returns
    * (degree, rank) per edge-incident node.
    */
  def ranks(g: Graph, iterations: Int): Map[Long, (Long, Long)] = {
    val adj = adjacency(g)
    val live = adj.indices.filter(adj(_).nonEmpty)
    var r = Array.fill(g.nodes)(1000000L)
    for (_ <- 1 to iterations) {
      val next = Array.fill(g.nodes)(150000L)
      for (u <- live; c = r(u) * 85 / (100L * adj(u).length); v <- adj(u))
        next(v) += c
      r = next
    }
    live.map(v => v.toLong -> (adj(v).length.toLong, r(v))).toMap
  }
}
