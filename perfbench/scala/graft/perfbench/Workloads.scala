package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, collect_list, sort_array}
import org.apache.spark.sql.types._

import graft.{SparkEntry, Tables}
import graft.apps.{AvgRatingApp, CommunityApp, SonApp}
import graft.operators.{Baskets, GraphOps}

/** Rows a job returns, kept for the correctness checks. */
final case class Output(schema: StructType, rows: Array[Row])

/** What one call can see: the session, the generated input directory, values
  * earlier calls of the same pass left behind, and sub-span marks. Marks go
  * to the buffer of the call whose thread records them, so a cancelled call
  * that finishes late cannot write into the next call's spans. */
final class Ctx(val spark: SparkSession, val input: String) {
  val shared = mutable.Map.empty[String, Any]
  val marksOfThisCall =
    new ThreadLocal[mutable.ArrayBuffer[(String, Long, Long)]]
  def mark[T](name: String)(body: => T): T = {
    val t0 = System.currentTimeMillis()
    try body finally {
      val m = marksOfThisCall.get
      m.synchronized(m += ((name, t0, System.currentTimeMillis())))
    }
  }
}

/** One timed call into a public engine function, tagged with its layer.
  * `face` names the SparkEntry face whose DuckDB oracle checks the rows. */
final case class Job(name: String, layer: String, deadlineS: Double,
    run: Ctx => Output, face: Option[String] = None)

object Workloads {

  def collect(df: DataFrame): Output = Output(df.schema, df.collect())

  private def rows(schema: StructType, rs: Iterable[Row]): Output =
    Output(schema, rs.toArray)

  private val edgeSchema = StructType(Seq(
    StructField("u", LongType), StructField("v", LongType)))

  /** Face calls by the q-number prefix of their SparkEntry name. */
  private def faces(spec: Seq[(String, String)]): Seq[Job] = spec.map {
    case (q, layer) =>
      val face = SparkEntry.queries.keys.find(_.startsWith(q + "_"))
        .getOrElse(sys.error(s"no SparkEntry face $q"))
      val fn = SparkEntry.queries(face)
      Job(face, layer, 60.0, c => collect(fn(c.spark, c.input)), Some(face))
  }

  /** The paper's batch apps that complete: task 1 (group averages) and the
    * community app, split into its three engine calls. */
  private def movielensApps: Seq[Job] = {
    def p(c: Ctx, f: String) = s"${c.input}/$f"
    Seq(
      Job("task1_avg_by_gender", "apps", 60.0, c => collect(
        AvgRatingApp.movieAvgByGender(c.spark, p(c, "ratings.dat"),
          p(c, "users.dat")))),
      Job("corating_edges", "apps", 60.0, { c =>
        val e = CommunityApp.coRatingEdges(c.spark, p(c, "ratings.csv"))
        c.shared("edges") = e
        rows(edgeSchema, e.map { case (u, v) => Row(u, v) })
      }),
      Job("betweenness_gn", "GraphOps", 60.0, { c =>
        val e = c.shared("edges").asInstanceOf[Array[(Long, Long)]]
        rows(edgeSchema.add("credit", DoubleType),
          GraphOps.referenceBetweennessGn(e).map { case (u, v, x) => Row(u, v, x) })
      }),
      Job("communities_gn", "GraphOps", 60.0, { c =>
        val e = c.shared("edges").asInstanceOf[Array[(Long, Long)]]
        val comms = GraphOps.referenceCommunities(c.spark, e)
        rows(StructType(Seq(StructField("vertex", LongType),
            StructField("community", LongType))),
          comms.flatMap(m => m.map(v => Row(v, m.min))))
      }))
  }

  /** SON at the reference's supports on the long ml-1m baskets, one case
    * per workload: a cancelled SON task ignores the interrupt and would
    * hold its core through the next case. Deadlines are twice the
    * reference's published times (case 1 ~40 s, case 2 ~20 s). Phase 1
    * runs inside `sonOnBaskets`; phase 2 when the result is collected. */
  private def movielensSon(k: Int, support: Int, deadline: Double): Seq[Job] =
    Seq(Job(s"son_case${k}_$support", "Baskets", deadline, { c =>
        val b = SonApp.baskets(c.spark, k, s"${c.input}/ratings.dat",
          s"${c.input}/users.dat")
        val freq = c.mark("son_phase1")(
          Baskets.sonOnBaskets(c.spark, b, Some(support)))
        c.mark("son_phase2")(collect(freq))
      }))

  private def graphSupersteps: Seq[Job] = {
    def edges(c: Ctx) = c.spark.read.parquet(s"${c.input}/edges.parquet")
      .select("u", "v")
    Seq(
      Job("pagerank", "GraphOps", 60.0,
        c => collect(GraphOps.pageRankOf(edges(c), 10, 0.85))),
      Job("ppr", "GraphOps", 60.0,
        c => collect(GraphOps.pprOf(edges(c), 10, 0.85))),
      Job("lpa", "GraphOps", 60.0,
        c => collect(GraphOps.communitiesLpaOf(edges(c), 10))),
      // the distributed BFS tier: the driver tier would hide the supersteps
      Job("sssp", "GraphOps", 60.0,
        c => collect(GraphOps.ssspOf(edges(c), 50, driverEdgeLimit = 0L))),
      Job("components", "GraphOps", 60.0,
        c => collect(GraphOps.componentsAuto(c.spark, edges(c)))))
  }

  /** Dedup's exact dedup (content view), brute ANN (Similarity's normalized
    * view) and TF-IDF. */
  private def docsPipeline: Seq[Job] = faces(Seq(
    "q40" -> "Dedup", "q46" -> "Similarity", "q78" -> "TextOps"))

  /** SON on the fixture's order baskets, which are short: the q22_son face
    * (`Baskets.son`) made of the same public calls, so that its two phases
    * can be timed, and checked by that face's oracle. */
  private def orderBasketsSon: Job =
    Job("q22_son", "Baskets", 60.0, { c =>
      import c.spark.implicits._
      val b = Tables(c.spark, c.input, "lineitem")
        .select("l_orderkey", "l_partkey").distinct()
        .groupBy("l_orderkey")
        .agg(sort_array(collect_list(col("l_partkey"))).as("items"))
        .select("items").as[Seq[Long]]
      val freq = c.mark("son_phase1")(Baskets.sonOnBaskets(c.spark, b, None))
      c.mark("son_phase2")(collect(freq))
    }, Some("q22_son"))

  /** Streaming sessionization next to its batch twin, plus a running-window
    * relational face. */
  private def eventsStream: Seq[Job] = faces(Seq(
    "q65" -> "streaming", "q62" -> "Events", "q17" -> "Relational"))

  /** Harness self-test: a Spark job that outlives its deadline, then one
    * that does not. Exercises cancel-by-job-group and failure charging. */
  private def deadlineProbe: Seq[Job] = Seq(
    Job("sleeper", "runtime", 2.0, { c =>
      c.spark.sparkContext.parallelize(1 to 4, 4)
        .map { i => Thread.sleep(60000L); i }.collect()
      Output(StructType(Nil), Array.empty)
    }),
    Job("quick", "runtime", 30.0, c => collect(c.spark.range(10).toDF())))

  /** Workloads measured by their cold pass alone: a deadline failure there
    * leaves nothing a warm pass could measure. */
  val coldOnly = Set("movielens_son1", "movielens_son2", "deadline_probe")

  val all: Map[String, () => Seq[Job]] = Map(
    "movielens_apps" -> (() => movielensApps),
    "movielens_son1" -> (() => movielensSon(1, 1200, 80.0)),
    "movielens_son2" -> (() => movielensSon(2, 600, 40.0)),
    "docs_pipeline" -> (() => docsPipeline),
    "docs_events" -> (() => docsPipeline ++ eventsStream :+ orderBasketsSon),
    "graph_supersteps" -> (() => graphSupersteps),
    "events_stream" -> (() => eventsStream),
    "deadline_probe" -> (() => deadlineProbe))
}
