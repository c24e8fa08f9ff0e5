package graft.ops

/** Sequential in-memory union-find over collected edges: the reference
  * the distributed components engine is checked against. A root is always
  * linked under the smaller root, so every component's root — and label —
  * is its minimum member id, the engine's labeling. */
object UnionFind {
  def labels(vertices: Iterable[Long], edges: Iterable[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = parent.getOrElseUpdate(x, x)
      while (parent(r) != r) r = parent(r)
      var y = x
      while (y != r) { val next = parent(y); parent(y) = r; y = next }
      r
    }
    for ((a, b) <- edges) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    (vertices ++ edges.flatMap(e => Seq(e._1, e._2))).map(v => v -> find(v)).toMap
  }
}
