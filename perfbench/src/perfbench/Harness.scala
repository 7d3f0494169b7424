package perfbench

import java.io.File
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.operators.{Features, Similarity}
import graft.pipeline._

/** One workload: a set-up that builds and warms everything a user would
  * pay for once, and an operation the benchmark repeats and times. */
trait Workload {
  /** Full set-up into a fresh directory; the last one stays live. */
  def setup(rep: Int): Unit
  /** One timed operation; throws on failure. */
  def op(k: Int): Unit
  /** What operation `k` ran (query name, request id, manifest). */
  def label(k: Int): String
  /** Units of work in operation `k` (images, queries, requests). */
  def items(k: Int): Long
  /** Operations per sweep over the workload's mix; the timed loop ends
    * on a sweep boundary, so every run weighs the mix the same. */
  def sweep: Int = 1
  /** Untimed check of operation `k`'s output, right after it ran. */
  def verify(k: Int): Boolean = true
  /** Untimed calls into single layers after a traced operation. */
  def probes(k: Int): Unit = ()
  /** Untimed end-of-run checks; returns the operations that failed them
    * plus a record of the run's inputs and checks. */
  def finish(): (Set[Int], Json.V)
}

/** The benchmark's JVM side: `Harness <workload> <seed> <seconds> <trace>
  * <inputs> <workdir>`. Over the inputs `run.py` generated, it sets up
  * several times, runs the timed loop, checks outputs and writes
  * `<workdir>/raw.json`, which `run.py` turns into metrics. */
object Harness {
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, inputs, work) = args
    val (seed, seconds, trace) = (seedS.toLong, secondsS.toDouble, traceS == "1")
    val cores = Runtime.getRuntime.availableProcessors
    val spark = graft.GraftSession.builder(cores = cores.toString)
      .appName(s"perfbench-$workload")
      .config("spark.local.dir", new File(s"$work/spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(s"$work/warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jvm0 = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    def phase(what: String): Unit = System.err.println(
      f"[perfbench] $what at ${(System.currentTimeMillis() - jvm0) / 1000.0}%.1f s")
    phase("session ready")
    val tracer = new Tracer(spark)
    if (trace) tracer.register()
    val w: Workload = workload match {
      case "classify" => new Classify(spark, inputs, work, tracer)
      case "suite"    => new Suite(spark, inputs, work, seed, tracer)
      case other      => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val setupS = (0 until SetupReps).map { r =>
      tracer.enabled = trace
      val t0 = System.nanoTime()
      tracer.span("setup", -1 - r)(w.setup(r))
      tracer.enabled = false
      (System.nanoTime() - t0) / 1e9
    }

    phase("set-up done")
    // The timed loop: operations back to back (one client thread, a
    // closed loop) until `seconds` of operation time have been spent and
    // the current sweep is complete (or four times `seconds` have gone).
    // In a traced run every other sweep is traced, so the untraced ones,
    // over the same mix, give the tracing overhead.
    final case class Op(label: String, seconds: Double, ok: Boolean,
        items: Long, traced: Boolean, error: String)
    val ops = mutable.ArrayBuffer[Op]()
    var timed = 0.0
    var k = 0
    while ((timed < seconds || k % w.sweep != 0) && timed < 4 * seconds) {
      val traced = trace && (k / w.sweep) % 2 == 1
      tracer.enabled = traced
      val t0 = System.nanoTime()
      val err = try { tracer.span("op", k)(w.op(k)); "" }
        catch { case e: Throwable => s"${e.getClass.getSimpleName}: ${e.getMessage}" }
      val dt = (System.nanoTime() - t0) / 1e9
      tracer.enabled = false
      timed += dt
      val checked = err.isEmpty && (try w.verify(k) catch { case _: Throwable => false })
      if (traced && err.isEmpty) {
        tracer.enabled = true
        try w.probes(k) catch { case e: Throwable => System.err.println(s"[perfbench] probe: $e") }
        tracer.enabled = false
      }
      if (err.nonEmpty) System.err.println(s"[perfbench] op $k (${w.label(k)}) failed: $err")
      ops += Op(w.label(k), dt, checked, w.items(k), traced,
        if (err.nonEmpty) err else if (!checked) "output check failed" else "")
      k += 1
    }
    val cacheMb = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0
    System.gc()
    val heapMb = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0

    phase("timed loop done")
    val (failedAtEnd, record) = w.finish()
    phase("checks done")
    if (trace) tracer.drain()
    val heapFlags = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filter(_.startsWith("-Xm")).mkString(" ")
    val out = Json.obj(
      "workload" -> Json.str(workload), "seed" -> Json.num(seed),
      "cores" -> Json.num(cores.toLong), "heap_flag" -> Json.str(heapFlags),
      "setup_s" -> Json.arr(setupS.map(Json.num)),
      "ops" -> Json.arr(ops.toSeq.zipWithIndex.map { case (o, i) =>
        val ok = o.ok && !failedAtEnd.contains(i)
        Json.obj("label" -> Json.str(o.label), "s" -> Json.num(o.seconds),
          "ok" -> Json.bool(ok), "items" -> Json.num(o.items),
          "traced" -> Json.bool(o.traced),
          "error" -> Json.str(if (o.ok && !ok) "end-of-run check failed" else o.error))
      }),
      "heap_mb" -> Json.num(heapMb), "cache_mb" -> Json.num(cacheMb),
      "record" -> record,
      "trace" -> (if (trace) tracer.toJson else Json.obj()))
    Files.write(Path.of(s"$work/raw.json"), out.render.getBytes("UTF-8"))
    Features.clear(spark)
    spark.stop()
    phase("stopped")
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def deleteTree(p: String): Unit = {
    val f = new File(p)
    if (f.exists()) Files.walk(f.toPath).sorted(java.util.Comparator.reverseOrder())
      .forEach(q => Files.delete(q))
  }
}

/** The reference dataflow end to end: `graft.Main` over a manifest of
  * generated PNGs, scored by a centroid model trained in set-up. 1% of
  * the entries are planted bad, so the sentinel path runs. */
final class Classify(spark: SparkSession, inputs: String, work: String,
    tracer: Tracer) extends Workload {
  import spark.implicits._
  private val manifest = s"$inputs/manifest.txt"
  private val paths = Files.readAllLines(Path.of(manifest)).asScala.toSeq
  /** Per manifest path, the output value it must get: the sentinel for a
    * planted bad entry, else a prefix naming the class it was drawn from. */
  private val expected: Map[String, String] = paths.map { p =>
    p -> (if (p.contains("/bad/")) "c0,0.0000"
          else p.split('/').find(_.matches("c[0-9]+")).get + ",")
  }.toMap
  val Sample = 200
  private val sample = paths.filterNot(_.contains("/bad/")).take(Sample)
    .map(p => Files.readAllBytes(Path.of(p)))
  private var model = ""
  private val sentinels = mutable.ArrayBuffer[Long]()

  private def args(out: String) =
    Array(manifest, out, "--centroid", model, "--labels", s"$inputs/img")

  /** Trains the model and runs the job once (the first job in a session
    * pays class loading and JIT). */
  def setup(rep: Int): Unit = {
    // A new file name per set-up: Spark refuses to ship one name twice
    // from different paths.
    model = s"$work/model-$rep.gcm"
    tracer.span("pipeline.Centroid.train", -1 - rep)(
      CentroidModel.trainOnImages(spark.read.parquet(s"$inputs/train.parquet")).save(model))
    require(graft.Main.run(args(s"$work/warm$rep"), Some(spark)) == 0, "warm-up run failed")
  }

  def op(k: Int): Unit =
    require(graft.Main.run(args(s"$work/out$k"), Some(spark)) == 0, "graft.Main exited 1")

  def label(k: Int): String = "manifest"
  def items(k: Int): Long = paths.size

  /** One row per manifest line, globally sorted by path, the sentinel
    * row for every planted entry and the generated class for the rest. */
  override def verify(k: Int): Boolean = {
    val out = s"$work/out$k"
    val parts = new File(out).listFiles().filter(_.getName.startsWith("part-"))
      .sortBy(_.getName)
    val lines = parts.toSeq.flatMap(f => Files.readAllLines(f.toPath).asScala)
    Harness.deleteTree(out)
    val keys = lines.map(_.takeWhile(_ != '\t'))
    lines.size == paths.size &&
      keys.zip(keys.drop(1)).forall { case (a, b) => a < b } &&
      lines.forall { l =>
        val (key, v) = l.splitAt(l.indexOf('\t'))
        expected.get(key).exists { want =>
          if (want.endsWith(",")) v.drop(1).startsWith(want) else v.drop(1) == want
        }
      }
  }

  /** Each layer of the dataflow called on its own: the manifest scan,
    * the batched scoring stage, the sorted write, and feature extraction
    * and scoring on a fixed sample. */
  override def probes(k: Int): Unit = {
    tracer.span("pipeline.Sources", k)(Sources.manifest(spark, manifest).count())
    val acc = spark.sparkContext.longAccumulator("sentinels")
    val preds = tracer.span("pipeline.Infer", k) {
      val items = Sources.manifest(spark, manifest).map(l => Item(l, l))
      Infer.classify(items, new CentroidScorer(new File(model).getName),
        LabelDict.load(s"$inputs/img"), sentinels = Some(acc)).collect()
    }
    sentinels += acc.value
    tracer.span("pipeline.Sinks", k)(
      Sinks.writeTsv(spark.createDataset(preds.toSeq), s"$work/sink$k"))
    Harness.deleteTree(s"$work/sink$k")
    val feats = tracer.span("pipeline.Media", k)(sample.map(Media.imageFeatures))
    val m = CentroidModel.load(model)
    tracer.span("pipeline.Centroid", k)(feats.foreach(m.scoreFeatures))
  }

  def finish(): (Set[Int], Json.V) = {
    val planted = paths.count(_.contains("/bad/"))
    (Set.empty, Json.obj(
      "images" -> Json.num(paths.size.toLong), "sample" -> Json.num(Sample.toLong),
      "planted_bad" -> Json.num(planted.toLong),
      "sentinels" -> Json.arr(sentinels.toSeq.map(Json.num))))
  }
}

/** A fixed mix of oracled queries over a small generated tier, where the
  * per-query fixed cost (building the frame, Catalyst, job scheduling)
  * dominates, plus one single-id fused retrieval request per sweep (the
  * default serving path of `graft.Serve`, over memoized indexes built in
  * set-up). Each query writes its result as parquet, the last write of
  * each is checked against DuckDB. The seed permutes the order and picks
  * the request ids. */
final class Suite(spark: SparkSession, dir: String, work: String, seed: Long,
    tracer: Tracer) extends Workload {
  import graft.operators._
  /** One query per operator module (Pipeline counts as Other; the serve
    * request stands for Similarity), each near its module's median warm
    * cost; every one has a DuckDB oracle. */
  val Queries: Seq[String] = Seq(
    "q05_local_supplier", "q25_sessionize", "q57_tfidf_terms",
    "q35_minhash_lsh", "q28_kv_sorted")
  val Request = "serve_fused_request"
  /** The servable query panel: embeddings 0..7 are the query vectors. */
  val Panel = 8
  private val families: Seq[(String, Set[String])] = Seq(
    "Relational" -> Relational.queries.keySet, "Events" -> Events.queries.keySet,
    "TextAnalysis" -> TextAnalysis.queries.keySet, "Dedup" -> Dedup.queries.keySet,
    "Similarity" -> (Similarity.queries.keySet + Request))
  def family(q: String): String =
    families.find(_._2.contains(q)).map(_._1).getOrElse("Other")
  private val rnd = new scala.util.Random(seed)
  private val order = rnd.shuffle(Queries :+ Request)
  private val ids = mutable.ArrayBuffer[Long]()
  private val served = mutable.Map[Int, Set[Seq[Long]]]()
  private val check = s"$work/check"

  private def request(id: Long): Set[Seq[Long]] =
    Similarity.serveFusedRequest(spark, dir, Seq(id))
      .select("q_id", "doc_id", "r_sem", "r_lex", "rrf_u").collect()
      .map(r => (0 until 5).map(r.getLong)).toSet

  private def run(q: String, op: Int): Unit =
    if (q == Request) {
      val id = rnd.nextInt(Panel).toLong
      val rows = tracer.span("operators.Similarity", op)(request(id))
      if (op >= 0) { ids += id; served(op) = rows }
    } else {
      val df = tracer.span("operators.build", op)(SparkEntry.queries(q)(spark, dir))
      tracer.span(s"operators.${family(q)}", op)(
        df.write.mode("overwrite").parquet(s"$check/$q"))
    }

  /** From a cleared session: the shared feature tables, the serving
    * indexes (first request), then one cold pass over the mix. */
  def setup(rep: Int): Unit = {
    Features.clear(spark)
    tracer.span("operators.Features", -1 - rep) {
      Harness.noop(Features.shingleSets(spark, dir))
      Harness.noop(Features.hashedShingles(spark, dir))
      Harness.noop(Features.scaledEmb(spark, dir))
      Harness.noop(Features.docTokenCounts(spark, dir))
    }
    tracer.span("operators.Similarity.index", -1 - rep)(request(0L))
    order.foreach(q => run(q, -1 - rep))
  }

  def op(k: Int): Unit = run(label(k), k)
  def label(k: Int): String = order(k % order.size)
  def items(k: Int): Long = 1
  override def sweep: Int = order.size

  /** Each served answer must equal q144's rows for its `q_id`; the
    * queries' last results go to `run.py` with their oracle SQL for the
    * DuckDB comparison. */
  def finish(): (Set[Int], Json.V) = {
    val want = SparkEntry.queries("q144_rrf_fusion")(spark, dir)
      .select("q_id", "doc_id", "r_sem", "r_lex", "rrf_u").collect()
      .map(r => (0 until 5).map(r.getLong)).toSet.groupBy((r: Seq[Long]) => r.head)
    val servedOps = served.keys.toSeq.sorted
    val failed = servedOps.zip(ids).collect {
      case (k, id) if served(k) != want.getOrElse(id, Set.empty) => k
    }.toSet
    val sql = SparkEntry.oracleSql
    (failed, Json.obj(
      "tables_dir" -> Json.str(dir), "check_dir" -> Json.str(check),
      "oracle" -> Json.obj(Queries.map(q => q -> Json.str(sql(q))): _*)))
  }
}
