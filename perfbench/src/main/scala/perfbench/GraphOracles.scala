package perfbench

import scala.collection.mutable

/** Driver-side reference answers over a collected edge list, written
  * without Spark and without any engine code, so that a defect in the
  * engine cannot hide in its own check.
  */
object GraphOracles {

  /** The benchmark corpus' edges re-derived from its files: each import
    * resolves to the file defining that module (lowest file id when
    * several do); unresolved imports and self-edges are dropped.
    */
  def edges(files: Seq[(Long, String, String, String)]): Array[(Long, Long)] = {
    val patterns = Map(
      "scala" -> """import graftmod\.(\w+)""".r,
      "py" -> """from graftmod import (\w+)""".r,
      "c" -> """#include "(\w+)\.h"""".r)
    val moduleOf = """([A-Za-z0-9_]+)\.[a-z]+$""".r.unanchored
    val definer = mutable.Map.empty[String, Long]
    files.foreach { case (id, path, _, _) =>
      path match {
        case moduleOf(m) =>
          val k = m.toLowerCase
          definer(k) = definer.get(k).fold(id)(math.min(_, id))
        case _ =>
      }
    }
    files.iterator.flatMap { case (src, _, lang, content) =>
      patterns.get(lang).iterator.flatMap(_.findAllMatchIn(content).map(_.group(1).toLowerCase))
        .flatMap(definer.get).filter(_ != src).map(dst => (src, dst))
    }.toArray.distinct.sorted
  }

  private final class Graph(edges: Array[(Long, Long)]) {
    val ids: Array[Long] = edges.flatMap { case (a, b) => Array(a, b) }.distinct.sorted
    private val index = ids.zipWithIndex.toMap
    val n: Int = ids.length
    val directed: Array[(Int, Int)] = edges.distinct.map { case (a, b) => (index(a), index(b)) }
    /** Undirected simple-graph neighbours, sorted. */
    lazy val nbrs: Array[Array[Int]] = {
      val sets = Array.fill(n)(mutable.SortedSet.empty[Int])
      directed.foreach { case (a, b) => if (a != b) { sets(a) += b; sets(b) += a } }
      sets.map(_.toArray)
    }
  }

  /** Power-iteration PageRank with teleport and uniform redistribution of
    * dangling mass, from the uniform vector, until the L1 change < tol or
    * after maxIter iterations.
    */
  def pageRank(edges: Array[(Long, Long)], tol: Double, maxIter: Int,
               alpha: Double = 0.85): Map[Long, Double] = {
    val g = new Graph(edges)
    val outdeg = new Array[Int](g.n)
    g.directed.foreach { case (a, _) => outdeg(a) += 1 }
    var r = Array.fill(g.n)(1.0 / g.n)
    var delta = Double.MaxValue
    var it = 0
    while (delta >= tol && it < maxIter) {
      val next = new Array[Double](g.n)
      g.directed.foreach { case (a, b) => next(b) += r(a) / outdeg(a) }
      val dangling = (0 until g.n).filter(outdeg(_) == 0).map(r(_)).sum
      delta = 0.0
      var i = 0
      while (i < g.n) {
        next(i) = (1 - alpha) / g.n + alpha * (next(i) + dangling / g.n)
        delta += math.abs(next(i) - r(i))
        i += 1
      }
      r = next
      it += 1
    }
    g.ids.zip(r).toMap
  }

  /** Union-find components; a component is named by its lowest vertex id. */
  def components(edges: Array[(Long, Long)]): Map[Long, Long] = {
    val g = new Graph(edges)
    val parent = Array.tabulate(g.n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var y = x
      while (parent(y) != r) { val next = parent(y); parent(y) = r; y = next }
      r
    }
    g.directed.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // ids are sorted, so the root (lowest index) is the lowest id
    g.ids.indices.map(i => g.ids(i) -> g.ids(find(i))).toMap
  }

  /** Synchronous label propagation: every vertex with a neighbour starts
    * with its own id and takes the most frequent neighbour label, ties to
    * the lowest label, for at most maxIter rounds or until nothing changes.
    */
  def labels(edges: Array[(Long, Long)], maxIter: Int): Map[Long, Long] = {
    val g = new Graph(edges)
    var label = g.ids.clone()
    var changed = true
    var it = 0
    while (changed && it < maxIter) {
      val next = label.clone()
      var i = 0
      while (i < g.n) {
        if (g.nbrs(i).nonEmpty) {
          val votes = g.nbrs(i).groupMapReduce(j => label(j))(_ => 1)(_ + _)
          next(i) = votes.minBy { case (l, c) => (-c, l) }._1
        }
        i += 1
      }
      changed = !java.util.Arrays.equals(next, label)
      label = next
      it += 1
    }
    g.ids.indices.filter(g.nbrs(_).nonEmpty).map(i => g.ids(i) -> label(i)).toMap
  }

  /** Triangles of the undirected simple graph. */
  def triangles(edges: Array[(Long, Long)]): Long = {
    val g = new Graph(edges)
    var t = 0L
    var a = 0
    while (a < g.n) {
      val na = g.nbrs(a)
      na.foreach { b =>
        if (b > a) {
          val nb = g.nbrs(b)
          // common neighbours c > b, by a merge of the two sorted lists
          var i = 0
          var j = 0
          while (i < na.length && j < nb.length) {
            if (na(i) < nb(j)) i += 1
            else if (na(i) > nb(j)) j += 1
            else { if (na(i) > b) t += 1; i += 1; j += 1 }
          }
        }
      }
      a += 1
    }
    t
  }
}
