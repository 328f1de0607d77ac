package layerbench

import scala.collection.mutable

/** Driver-side reference algorithms the curation oracle checks the engine
  * against. They share no code with the engine. */
object Oracles {

  /** Connected components of the undirected graph on `nodes` ∪ endpoints:
    * node → smallest node id of its component (union-find). */
  def components(nodes: Iterable[Long], edges: Iterable[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElseUpdate(r, r) != r) r = parent(r)
      var y = x
      while (parent(y) != r) { val n = parent(y); parent(y) = r; y = n }
      r
    }
    nodes.foreach(find)
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    // the root is the minimum: unions always hang the larger root
    parent.keys.map(k => k -> find(k)).toMap
  }

  /** Strongly connected components (iterative Tarjan) of the directed
    * graph on the endpoints of `edges`, self-loops ignored: node → smallest
    * node id of its component. */
  def scc(edges: Iterable[(Long, Long)]): Map[Long, Long] = {
    val adj = mutable.HashMap.empty[Long, mutable.ArrayBuffer[Long]]
    edges.foreach { case (a, b) =>
      adj.getOrElseUpdate(a, mutable.ArrayBuffer.empty)
      adj.getOrElseUpdate(b, mutable.ArrayBuffer.empty)
      if (a != b) adj(a) += b
    }
    val index = mutable.HashMap.empty[Long, Int]
    val low = mutable.HashMap.empty[Long, Int]
    val onStack = mutable.HashSet.empty[Long]
    val stack = mutable.Stack.empty[Long]
    val out = mutable.HashMap.empty[Long, Long]
    var counter = 0
    adj.keys.toSeq.sorted.foreach { root =>
      if (!index.contains(root)) {
        // explicit DFS stack of (node, next-child position)
        val work = mutable.Stack((root, 0))
        index(root) = counter; low(root) = counter; counter += 1
        stack.push(root); onStack += root
        while (work.nonEmpty) {
          val (v, i) = work.pop()
          val kids = adj(v)
          if (i < kids.size) {
            work.push((v, i + 1))
            val w = kids(i)
            if (!index.contains(w)) {
              index(w) = counter; low(w) = counter; counter += 1
              stack.push(w); onStack += w
              work.push((w, 0))
            } else if (onStack(w)) low(v) = math.min(low(v), index(w))
          } else {
            if (low(v) == index(v)) {
              val comp = mutable.ArrayBuffer.empty[Long]
              var w = -1L
              while (w != v) { w = stack.pop(); onStack -= w; comp += w }
              val id = comp.min
              comp.foreach(out(_) = id)
            }
            if (work.nonEmpty) {
              val (p, _) = work.top
              low(p) = math.min(low(p), low(v))
            }
          }
        }
      }
    }
    out.toMap
  }

  /** k-core of the simple undirected graph `edges` (one row per edge):
    * surviving node → its degree inside the core. */
  def kCore(edges: Iterable[(Long, Long)], k: Int): Map[Long, Int] = {
    val adj = mutable.HashMap.empty[Long, mutable.HashSet[Long]]
    edges.foreach { case (a, b) =>
      if (a != b) {
        adj.getOrElseUpdate(a, mutable.HashSet.empty) += b
        adj.getOrElseUpdate(b, mutable.HashSet.empty) += a
      }
    }
    val queue = mutable.Queue.from(adj.collect { case (n, s) if s.size < k => n })
    val gone = mutable.HashSet.empty[Long]
    while (queue.nonEmpty) {
      val n = queue.dequeue()
      if (!gone(n)) {
        gone += n
        adj(n).foreach { m =>
          adj(m) -= n
          if (!gone(m) && adj(m).size < k) queue.enqueue(m)
        }
        adj(n).clear()
      }
    }
    adj.collect { case (n, s) if !gone(n) => n -> s.size }.toMap
  }

  /** Undirected hop distance from the nearest source, within `maxHops`. */
  def bfs(edges: Iterable[(Long, Long)], sources: Iterable[Long],
      maxHops: Int): Map[Long, Int] = {
    val adj = mutable.HashMap.empty[Long, mutable.ArrayBuffer[Long]]
    edges.foreach { case (a, b) =>
      if (a != b) {
        adj.getOrElseUpdate(a, mutable.ArrayBuffer.empty) += b
        adj.getOrElseUpdate(b, mutable.ArrayBuffer.empty) += a
      }
    }
    val dist = mutable.HashMap.empty[Long, Int]
    val q = mutable.Queue.empty[Long]
    sources.foreach { s => if (!dist.contains(s)) { dist(s) = 0; q.enqueue(s) } }
    while (q.nonEmpty) {
      val v = q.dequeue()
      if (dist(v) < maxHops)
        adj.getOrElse(v, mutable.ArrayBuffer.empty).foreach { w =>
          if (!dist.contains(w)) { dist(w) = dist(v) + 1; q.enqueue(w) }
        }
    }
    dist.toMap
  }

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot, na, nb = 0.0
    var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      i += 1
    }
    dot / math.sqrt(na * nb)
  }

  /** Exact top-`k` corpus ids by cosine for each query (ties by id). */
  def topK(queries: Seq[(Long, Array[Float])], corpus: Seq[(Long, Array[Float])],
      k: Int): Map[Long, Seq[Long]] =
    queries.map { case (q, qv) =>
      q -> corpus.map { case (c, cv) => (c, cosine(qv, cv)) }
        .sortBy { case (c, s) => (-s, c) }.take(k).map(_._1)
    }.toMap
}
