package perfbench

import graft.SparkEntry
import graft.graph._
import graft.ingest.{Corpus, Edge, EdgeExtraction}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** corpus_graph: a seeded corpus's edge build; CSR PageRank to 1e-6,
  * connected components, label propagation and triangle count without
  * durable checkpoints; then CSR PageRank, components and label
  * propagation each run under `Durable(every = 1)`, stopped part way, and
  * finished by their `resume`. Every result is checked against driver-side
  * oracles over edges re-derived from the corpus files.
  */
final class CorpusGraph(run: Run) extends Workload {
  import CorpusGraph._

  /** Synthetic corpus -> sha stamp -> edge extraction, written as parquet. */
  private def build(spark: SparkSession, files: Long, path: String): Unit =
    EdgeExtraction.edges(Corpus.stamped(Corpus.synthetic(spark, files, Repos, MaxDegree, run.seed)))
      .write.mode("overwrite").parquet(path)

  private def read(spark: SparkSession, path: String): Dataset[Edge] = {
    import spark.implicits._
    spark.read.parquet(path).as[Edge]
  }

  /** The engine calls of a pass, in order, each through `call(name, phase, body)`. */
  private def calls(edges: => Dataset[Edge], root: String,
                    call: (String, String, () => Any) => Option[Any]): Seq[Option[Any]] = Seq(
    call("graph.csr", "graph.csr", () => CsrPageRank.run(edges, PageRankConfig(tol = Tol))),
    call("graph.cc", "graph.cc", () => ConnectedComponents.run(edges)),
    call("graph.lpa", "graph.lpa", () => LabelPropagation.run(edges, LpaIter)),
    call("graph.tc", "graph.tc", () => TriangleCount.count(edges)),
    call("supersteps.csr.run", "supersteps", () => CsrPageRank.run(edges,
      PageRankConfig(tol = Tol, maxIter = PrStop, checkpoint = Durable(s"$root/csr")))),
    call("supersteps.csr.resume", "supersteps", () => CsrPageRank.resume(edges, s"$root/csr",
      PageRankConfig(tol = Tol, maxIter = PrDurableIter))),
    call("supersteps.cc.run", "supersteps", () => ConnectedComponents.run(edges, CcStop, Durable(s"$root/cc"))),
    call("supersteps.cc.resume", "supersteps", () => ConnectedComponents.resume(edges, s"$root/cc")),
    call("supersteps.lpa.run", "supersteps", () => LabelPropagation.run(edges, LpaStop, Durable(s"$root/lpa"))),
    call("supersteps.lpa.resume", "supersteps", () =>
      LabelPropagation.resume(edges, s"$root/lpa", LpaDurableIter)))

  /** The durable calls run the same engine loops as the `LocalOnly` ones,
    * so the warm-up makes only those and the triangle count, which has no
    * durable twin.
    */
  def warmUp(): Unit = {
    val spark = run.spark
    val warm = s"${run.dir}/warm"
    build(spark, WarmFiles, s"$warm/edges")
    calls(read(spark, s"$warm/edges"), warm, (name, phase, f) =>
      if (phase == "supersteps" || name == "graph.tc") Some(f()) else None)
    delete(warm)
  }

  def pass(unit: Int): () => Unit = {
    val spark = run.spark
    val root = s"${run.dir}/pass$unit"
    def edges = read(spark, s"$root/edges")
    run.op(unit, "edge_build", "ingest.edge_build", "ingest")(build(spark, CorpusFiles, s"$root/edges"))
    val results = calls(edges, s"$root/durable",
      (name, phase, f) => run.op(unit, name.stripPrefix("graph."), name, phase)(f()))
    () => {
      def check(name: String)(f: => Option[String]): Unit = run.check(unit, name.stripPrefix("graph."))(f)
      def gauge(name: String, v: Double): Unit = run.tracer.gauge(unit, name, v)
      check("edge_build") {
        gauge("ingest.edges", edges.count().toDouble)
        checkEdges(edges)
      }
      val files = Files.walk(Paths.get(root, "durable")).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      gauge("supersteps.commits", files.count(_.getFileName.toString == "_COMMIT"))
      gauge("supersteps.bytes_written", files.map(Files.size).sum.toDouble)
      def stopped(name: String, ok: Boolean, what: String): Unit =
        check(name)(if (ok) None else Some(s"the stopped run did not stop part way: $what"))
      results match {
        case Seq(pr, cc, lpa, tc, prRun, prResume, ccRun, ccResume, lpaRun, lpaResume) =>
          pr.collect { case r: PageRankResult =>
            gauge("graph.csr.prepare_s", r.prepareSeconds)
            gauge("graph.csr.loop_s", r.loopSeconds)
            gauge("graph.csr.iterations", r.iterations)
            check("csr")(checkRanks(r.ranks, MaxIter))
          }
          cc.collect { case r: ConnectedComponents.CcResult =>
            gauge("graph.cc.rounds", r.rounds)
            check("cc")(checkExact("components", r.components, components))
          }
          lpa.collect { case r: LabelPropagation.LpaResult =>
            check("lpa")(checkExact("labels", r.labels, labels(LpaIter))) }
          tc.collect { case t: Long =>
            check("tc")(if (t == triangles) None else Some(s"$t triangles, $triangles expected")) }
          prRun.collect { case r: PageRankResult =>
            stopped("supersteps.csr.run", r.iterations == PrStop && !r.converged, s"${r.iterations} iterations") }
          prResume.collect { case r: PageRankResult =>
            check("supersteps.csr.resume")(checkRanks(r.ranks, PrDurableIter)) }
          ccRun.collect { case r: ConnectedComponents.CcResult =>
            stopped("supersteps.cc.run", r.rounds == CcStop, s"${r.rounds} rounds") }
          ccResume.collect { case r: ConnectedComponents.CcResult =>
            check("supersteps.cc.resume")(checkExact("components", r.components, components)) }
          lpaRun.collect { case r: LabelPropagation.LpaResult =>
            stopped("supersteps.lpa.run", r.iterations == LpaStop && !r.converged, s"${r.iterations} iterations") }
          lpaResume.collect { case r: LabelPropagation.LpaResult =>
            check("supersteps.lpa.resume")(checkExact("labels", r.labels, labels(LpaDurableIter))) }
      }
      delete(root)
    }
  }

  /** The expected edges, re-derived on the driver from the corpus files. */
  private lazy val expected: Array[(Long, Long)] = {
    val spark = run.spark
    import spark.implicits._
    GraphOracles.edges(Corpus.stamped(Corpus.synthetic(spark, CorpusFiles, Repos, MaxDegree, run.seed))
      .select("file_id", "path", "lang", "content").as[(Long, String, String, String)].collect().toSeq)
  }
  private val ranks = scala.collection.mutable.Map.empty[Int, Map[Long, Double]]
  private val labelsAt = scala.collection.mutable.Map.empty[Int, Map[Long, Long]]
  private def labels(maxIter: Int) = labelsAt.getOrElseUpdate(maxIter, GraphOracles.labels(expected, maxIter))
  private lazy val components: Map[Long, Long] = GraphOracles.components(expected)
  private lazy val triangles: Long = GraphOracles.triangles(expected)

  private def checkEdges(edges: Dataset[Edge]): Option[String] = {
    val got = edges.collect().map(e => (e.src, e.dst)).sorted
    if (got.sameElements(expected)) None
    else Some(s"edges differ from the oracle: ${got.length} built, ${expected.length} expected")
  }

  private def checkRanks(df: DataFrame, maxIter: Int): Option[String] = {
    val want = ranks.getOrElseUpdate(maxIter, GraphOracles.pageRank(expected, Tol, maxIter))
    val got = df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val worst = if (got.keySet != want.keySet) Double.PositiveInfinity
      else got.map { case (k, v) => math.abs(v - want(k)) }.max
    if (worst <= 1e-6) None else Some(s"ranks differ from the oracle by $worst")
  }

  private def checkExact(what: String, df: DataFrame, want: Map[Long, Long]): Option[String] = {
    val got = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val wrong = if (got.keySet != want.keySet) -1 else got.count { case (k, v) => want(k) != v }
    if (wrong == 0) None
    else Some(s"$what differ from the oracle: " +
      (if (wrong < 0) s"${got.size} vertices, ${want.size} expected" else s"$wrong vertices"))
  }
}

object CorpusGraph {
  val CorpusFiles = 8000L
  val Repos = 200
  val MaxDegree = 12
  val Tol = 1e-6
  val MaxIter = 200 // PageRankConfig's default; CSR PageRank converges to Tol well before
  val LpaIter = 10
  // each stopped durable run does half of its engine's iterations:
  // PageRank 2 of 4, components 1 of the rounds to their fixpoint, labels
  // 1 of 2
  val PrStop = 2
  val PrDurableIter = 4
  val CcStop = 1
  val LpaStop = 1
  val LpaDurableIter = 2
  /** Corpus size of the warm-up, which makes the same calls on a smaller graph. */
  val WarmFiles = 2000L

  def delete(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
  }
}

/** query_sweep: the pinned `SparkEntry.queries` entries, in a seeded
  * order, each timed through a `collect` that computes every output row
  * and column. The rows are written as parquet after the pass for the
  * DuckDB oracle compare.
  *
  * Every pass runs on a new session over a fresh java.io.tmpdir, so no
  * pass reuses the engine's first-use caches of an earlier one: the
  * part-edge derivation (cached under java.io.tmpdir) is paid by the
  * pass's first graph query, and the per-session link universe by its
  * first link query, as in a fresh driver.
  */
final class QuerySweep(run: Run) extends Workload {
  private val data = run.opt("data-dir")
  private val warm = run.opt("warm-dir")
  private val order = Files.readAllLines(Paths.get(run.opt("queries"))).asScala.toSeq.filter(_.nonEmpty)
  private val queries = SparkEntry.queries
  Files.writeString(Paths.get(run.dir, "oracle_sql.json"), Json.value(SparkEntry.oracleSql))

  /** Every query once, over tables of the same size from the next seed. */
  def warmUp(): Unit =
    order.foreach(q => try queries(q)(run.spark, warm).collect() catch { case _: Throwable => () })

  def pass(unit: Int): () => Unit = {
    val tmp = Files.createDirectories(Paths.get(run.dir, s"pass$unit"))
    System.setProperty("java.io.tmpdir", tmp.toString)
    val spark = run.spark.newSession()
    val results = order.map { q =>
      q -> run.op(unit, q, s"q.$q", "sweep") {
        val df = queries(q)(spark, data)
        (df.schema, df.collect())
      }
    }
    () => results.foreach {
      case (q, Some((schema, rows))) =>
        run.check(unit, q) {
          spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
            .write.parquet(s"${run.dir}/out/$unit/$q")
          None
        }
      case _ =>
    }
  }
}
