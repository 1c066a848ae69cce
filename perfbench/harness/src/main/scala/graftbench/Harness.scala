package graftbench

import graft.{CurationPipeline, GraftSession, Pipeline, SparkEntry, Tables}
import graft.graph.{Bfs, Criticality, Eaul, RoadGraph}
import graft.operators.{Dedup, Layout, Relational, Similarity, TextAnalysis}
import graft.sources.OsmXml
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** Closed-loop driver for one benchmark run: one client, one outstanding
  * operation. Reads the plan that `run.py` generated from the seed, sets
  * the session up three times, then runs whole rounds of the workload's
  * operations until the measuring window has passed, and writes every
  * timing, failure, span and output location to a JSON result file.
  *
  * Usage: Harness <plan file> <result json>
  *        Harness --oracle-sql <gate,gate,...> <json>   (writes each gate's
  *        `SparkEntry.oracleSql` without starting Spark)
  */
object Harness {

  /** One operation of a round. A probe is an operation known to fail on
    * the current program: it is attempted and counted every round, but its
    * duration never enters `wall_s` or a percentile.
    */
  final case class Op(name: String, span: String, probe: Boolean, run: Int => Unit)
  final case class Rec(round: Int, name: String, probe: Boolean, ok: Boolean, seconds: Double,
      error: String, message: String)

  def main(args: Array[String]): Unit =
    if (args(0) == "--oracle-sql") {
      val gates = args(1).split(",").toSeq
      Files.writeString(Paths.get(args(2)),
        Json.obj(gates.map(g => g -> Json.str(SparkEntry.oracleSql.getOrElse(g, "")))))
    } else measure(args)

  private def measure(args: Array[String]): Unit = {
    val plan = Files.readAllLines(Paths.get(args(0))).toArray(Array.empty[String])
      .filter(_.contains('=')).map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }.toMap
    val data = plan("data")
    val seconds = plan("seconds").toDouble
    val cpus = plan("cpus").toInt

    // set-up, three times: build the session with the program's own
    // factory and warm it, so the first timed operation does not absorb
    // the JVM's warm-up. The first set-up also counts the JVM's own start.
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    var spark: SparkSession = null
    val setups = (0 until 3).map { i =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = GraftSession.local(cpus, "graft-perfbench")
      warmUp(spark, data)
      if (i == 0) (System.currentTimeMillis() - jvmStartMs) / 1e3 else (System.nanoTime() - t0) / 1e9
    }
    val tr = new Tracer(spark, plan("trace") == "1")
    val w = plan("workload") match {
      case "indicators" => new Indicators(spark, tr, plan)
      case "gates" => new Gates(spark, tr, plan)
      case "curation" => new Curation(spark, tr, plan)
      case other => sys.error(s"unknown workload $other")
    }

    val recs = mutable.ArrayBuffer[Rec]()
    val passes = mutable.ArrayBuffer[Double]()
    val t0 = System.nanoTime()
    var round = 0
    while (round == 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
      tr.pass = round
      val mine = w.ops.map { op =>
        val s = System.nanoTime()
        try {
          tr.span(op.span, top = true)(op.run(round))
          Rec(round, op.name, op.probe, ok = true, (System.nanoTime() - s) / 1e9, "", "")
        } catch {
          case e: Throwable =>
            val msg = Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString.take(300)
            Rec(round, op.name, op.probe, ok = false, (System.nanoTime() - s) / 1e9, e.getClass.getName, msg)
        }
      }
      recs ++= mine
      // a pass counts toward wall_s only if every non-probe operation in it
      // completed; a failed operation's duration enters no timing
      if (mine.forall(r => r.probe || r.ok)) passes += mine.filterNot(_.probe).map(_.seconds).sum
      w.afterRound(round)
      // every round starts from the same executor state
      spark.catalog.clearCache()
      System.gc()
      round += 1
    }
    val window = (System.nanoTime() - t0) / 1e9
    val extra = w.finish()
    spark.stop()

    val J = Json
    val out = J.obj(Seq(
      "workload" -> J.str(plan("workload")),
      "setup_s" -> J.arr(setups.map(J.num)),
      "rounds" -> J.num(round.toDouble),
      "window_s" -> J.num(window),
      "passes_s" -> J.arr(passes.toSeq.map(J.num)),
      "ops" -> J.arr(recs.toSeq.map(r => J.obj(Seq(
        "round" -> J.num(r.round.toDouble), "name" -> J.str(r.name), "probe" -> J.bool(r.probe),
        "ok" -> J.bool(r.ok), "seconds" -> J.num(r.seconds), "error" -> J.str(r.error),
        "message" -> J.str(r.message))))),
      "spans" -> J.arr(tr.spans.toSeq.map(s => J.obj(Seq(
        "name" -> J.str(s.name), "pass" -> J.num(s.pass.toDouble), "top" -> J.bool(s.top), "seconds" -> J.num(s.seconds),
        "ok" -> J.bool(s.ok), "counts" -> J.obj(s.counts.toSeq.sortBy(_._1).map { case (k, x) => k -> J.num(x) })))))
    ) ++ extra)
    Files.writeString(Paths.get(args(1)), out)
  }

  /** A scan, a shuffle, a join and one checkpointed min-fold round: the
    * engine paths every workload's operations share.
    */
  private def warmUp(spark: SparkSession, data: String): Unit = {
    spark.range(1000000).selectExpr("sum(id)").collect()
    Tables.lineitem(spark, data).groupBy("l_returnflag").count().collect()
    val edges = spark.range(2000).select((col("id") % 500).as("a"), ((col("id") * 7) % 500).as("b"))
    val d = spark.range(500).select(col("id").as("a"), col("id").as("v"))
    d.join(edges, "a").groupBy(col("b").as("a")).agg(min(col("v")).as("v"))
      .unionByName(d).groupBy("a").agg(min(col("v")).as("v")).localCheckpoint(true).count()
  }

  /** Materializes a frame once, so the span around a layer call holds
    * that layer's work and the next layer reads the stored result.
    */
  private def materialize(df: DataFrame): DataFrame = df.localCheckpoint(true)

  abstract class Workload {
    def ops: Seq[Op]
    def afterRound(round: Int): Unit = ()
    /** Extra result fields, written after the measuring window. */
    def finish(): Seq[(String, String)] = Seq.empty
  }

  /** `Pipeline.run` on the seeded road network. The traced run also calls
    * the same layers as `run` does, in the same order with the same
    * arguments, each result materialized once, under a span each.
    */
  final class Indicators(spark: SparkSession, tr: Tracer, plan: Map[String, String]) extends Workload {
    private val osm = plan("osm")
    private val out = plan("work") + "/out/pipeline"
    def ops: Seq[Op] = Seq(Op("Pipeline.run", "Pipeline.run", probe = false, round =>
      Pipeline.run(spark, osm, s"$out/r$round")))

    override def afterRound(pass: Int): Unit = if (tr.enabled) {
      val (nodes, ways) = tr.span("sources.OsmXml.read") {
        val (n, w) = OsmXml.read(spark, osm)
        (materialize(n), materialize(w))
      }
      val g = tr.span("graph.RoadGraph.fromOsm")(RoadGraph.fromOsm(spark, nodes, ways))
      val od = Array(0, g.numNodes - 1,
        g.snap(g.nodeLon.sum / g.numNodes, g.nodeLat.sum / g.numNodes))
      val crit = tr.span("graph.Criticality.scores") {
        materialize(Criticality.scores(spark, g, od)
          .select(col("way_id"), round(col("score"), 2).as("score")))
      }
      tr.span("graph.Eaul.sweep") {
        val stats = Eaul.FloodStats(Map.empty.withDefaultValue(Map.empty), Map.empty.withDefaultValue(Map.empty))
        materialize(Eaul.sweep(spark, g, stats, od, Array.fill(od.length, od.length)(100.0 * 365), Set.empty))
      }
      tr.span("operators.Relational.mergeIndicators") {
        val rn = ways.select(col("tags")("NAME").as("NAME"), col("tags")("RUC").cast("double").as("RUC"))
        materialize(Relational.mergeIndicators(rn, "NAME", Seq("crit" -> crit)))
      }
    }

    override def finish(): Seq[(String, String)] = Seq("pipeline_out" -> Json.str(out))
  }

  /** Oracle-backed gates from `SparkEntry.queries`, in the seeded order,
    * then a `graph.Bfs.sssp` probe on the seeded chain. The timed action
    * collects the gate's rows; the first round's rows are written out for
    * the DuckDB check, and later rounds must reproduce them exactly.
    */
  final class Gates(spark: SparkSession, tr: Tracer, plan: Map[String, String]) extends Workload {
    private val data = plan("data")
    private val gates = plan("gates").split(",").toSeq
    private val first = mutable.LinkedHashMap[String, (StructType, Array[Row])]()
    private val prints = mutable.HashMap[String, Int]()
    private val unstable = mutable.LinkedHashSet[String]()
    private var ssspRows: Option[Array[Row]] = None
    private def fingerprint(rows: Array[Row]): Int = rows.map(_.toString).sorted.toSeq.hashCode

    private val gateOps = gates.map { g =>
      val fn = SparkEntry.queries(g)
      Op(g, s"SparkEntry.$g", probe = false, _ => {
        val df = fn(spark, data)
        val (schema, rows) = (df.schema, df.collect())
        val fp = fingerprint(rows)
        prints.get(g) match {
          case None => first(g) = (schema, rows); prints(g) = fp
          case Some(p) if p != fp => unstable += g
          case _ =>
        }
      })
    }
    private val probe = Op("graph.Bfs.sssp", "graph.Bfs.sssp", probe = true, _ => {
      val rows = Bfs.sssp(spark.read.parquet(plan("chain")), "a", "b", "w", 0L,
        maxRounds = plan("chain_max_rounds").toInt).collect()
      if (ssspRows.isEmpty) ssspRows = Some(rows)
    })
    def ops: Seq[Op] = gateOps :+ probe

    override def finish(): Seq[(String, String)] = {
      val dir = plan("work") + "/out/gates"
      first.foreach { case (g, (schema, rows)) =>
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
          .coalesce(1).write.mode("overwrite").parquet(s"$dir/$g")
      }
      val sssp = ssspRows.map { rows =>
        Json.arr(rows.toSeq.map(r => Json.arr(Seq(Json.num(r.getLong(0).toDouble), Json.num(r.getDouble(1))))))
      }.getOrElse("null")
      Seq(
        "gates_out" -> Json.str(dir),
        "unstable" -> Json.arr(unstable.toSeq.map(Json.str)),
        "oracle_sql" -> Json.obj(gates.map(g => g -> Json.str(SparkEntry.oracleSql.getOrElse(g, "")))),
        "sssp" -> sssp)
    }
  }

  /** The curation stages of `CurationPipeline.run`, composed in its order
    * with its arguments and each stage materialized once ("curate"), then
    * `CurationPipeline.appendCuratedBatch` of the seeded batches into a
    * fresh transaction-log table.
    */
  final class Curation(spark: SparkSession, tr: Tracer, plan: Map[String, String]) extends Workload {
    private val data = plan("data")
    private val batches = plan("batches").split(",").toSeq
    private val out = plan("work") + "/out/curation"
    private val appended = mutable.ArrayBuffer[String]()

    private def curate(round: Int): Unit = {
      val dir = s"$out/r$round"
      val docs = Tables.documents(spark, data)
      val quality = tr.span("operators.TextAnalysis.qualityRules") {
        materialize(TextAnalysis.qualityRules(docs, "doc_id", "text", minWords = 20, maxWords = 100000)
          .filter(col("keep")).select(col("doc_id")))
      }
      val lowRepetition = tr.span("operators.TextAnalysis.repetitionStats") {
        materialize(TextAnalysis.repetitionStats(docs, "doc_id", "text")
          .filter(col("top_bigram_char_frac") <= 0.12 && col("dup_5gram_char_frac") <= 2.0)
          .select(col("doc_id")))
      }
      val filtered = docs
        .join(quality, Seq("doc_id"), "left_semi")
        .join(lowRepetition, Seq("doc_id"), "left_semi")
      val exact = tr.span("operators.Dedup.exactDedup") {
        materialize(Dedup.exactDedup(filtered, "doc_id", "text"))
      }
      val curated = tr.span("operators.Dedup.minHashDedup") {
        materialize(Dedup.minHashDedup(exact, "doc_id", "text"))
      }
      val curatedEmbs = Tables.embeddings(spark, data)
        .join(curated.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi")
      val semKept = tr.span("operators.Dedup.semDedupKmeans") {
        materialize(Dedup.semDedupKmeans(curatedEmbs, "vec_id", "embedding", k = 8, iters = 3, threshold = 0.4))
      }
      val semDropped = curatedEmbs.select(col("vec_id").as("doc_id"))
        .join(semKept.select(col("vec_id").as("doc_id")), Seq("doc_id"), "left_anti")
      val semantic = materialize(curated.join(semDropped, Seq("doc_id"), "left_anti"))
      tr.span("operators.Layout.shuffleShard") {
        Layout.shuffleShard(semantic, "doc_id", numShards = 4)
          .write.partitionBy("shard").mode("overwrite").parquet(s"$dir/corpus")
      }
      val embs = materialize(curatedEmbs
        .join(semantic.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi"))
      val codebook = tr.span("operators.Similarity.pqCodebookKmeans") {
        Similarity.pqCodebookKmeans(embs, "vec_id", "embedding", m = 8, k = 16)
      }
      tr.span("operators.Similarity.pqEncode") {
        Similarity.pqEncode(embs, "vec_id", "embedding", codebook)
          .write.mode("overwrite").parquet(s"$dir/pq_codes")
      }
    }

    def ops: Seq[Op] = Op("curate", "curate", probe = false, curate) +:
      batches.zipWithIndex.map { case (b, i) =>
        Op(s"appendCuratedBatch[$i]", "CurationPipeline.appendCuratedBatch", probe = false, round => {
          val counts =
            CurationPipeline.appendCuratedBatch(spark, s"$out/r$round/txlog", spark.read.parquet(b))
          appended += Json.obj(Seq("round" -> Json.num(round.toDouble), "batch" -> Json.num(i.toDouble)) ++
            counts.toSeq.sortBy(_._1).map { case (k, x) => k -> Json.num(x.toDouble) })
        })
      }

    override def finish(): Seq[(String, String)] =
      Seq("curation_out" -> Json.str(out), "appended" -> Json.arr(appended.toSeq))
  }
}

/** Just enough JSON writing for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null" else java.lang.Double.toString(x)
  def bool(b: Boolean): String = b.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, x) => str(k) + ":" + x }.mkString("{", ",", "}")
}
