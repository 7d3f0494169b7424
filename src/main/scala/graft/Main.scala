package graft

import org.apache.spark.sql.SparkSession

import graft.pipeline._

/** The end-to-end CLI entry point — entry-point-A parity with the
  * reference's `hadoop jar … PredictDriverCluster <input_list> <output_dir>`
  * (`/root/reference/java/PredictDriverCluster.java:17-55`):
  *
  *  - `<input_list>`: a text manifest, one path per line (S1); trimmed,
  *    BOM-stripped, empty lines dropped (F1) by [[Sources.manifest]];
  *  - `<output_dir>`: refuses to run if it already exists — Hadoop's
  *    `FileOutputFormat` contract;
  *  - classification: per-partition scorer init, 32-row batches (B1),
  *    sentinel on per-item failure (M3) via [[Infer.classify]];
  *  - output: `path TAB label,%.4f` lines, globally key-sorted (P1 + SH1
  *    + M6 + K1). The key is the manifest line itself, so the range sort
  *    runs on the manifest keys BEFORE scoring ([[Sinks.keyRanges]]: one
  *    sorted range per core, the reference's mapper fan-out) and the
  *    scored ranges are written in order with no second sort
  *    ([[Sinks.writeKeyOrderedTsv]]). Each image is read and scored
  *    exactly once; the sort's sampling job reads paths only.
  *
  * Scorer dispatch (the reference's DistributedCache wiring,
  * `PredictDriverCluster.java:47-51`):
  *  - default: the deterministic [[HashScorer]] stub (the sandbox has no
  *    model runtime; the scorer seam is where a real model plugs in);
  *  - `--pipe <script>`: ship `<script>` to every executor with
  *    `sc.addFile` and score through it as a subprocess, the script
  *    resolved executor-side via `SparkFiles.get` (X1 + S3). One process
  *    per 32-row batch — the reference's own design, and its dominant
  *    inefficiency (model reloaded per batch,
  *    `PredictBatchMapperCluster.java:97-107`);
  *  - `--pipe-streaming <script>`: same shipping, but ONE long-lived
  *    subprocess per partition with a line-framed stdin/stdout protocol
  *    ([[StreamingPipeScorer]]) — the documented fix for that reload
  *    inefficiency, now reachable from the CLI. The script must echo one
  *    `payload,classIdx,prob` line per input line, flushed per line;
  *  - `--checkpoint <file>`: ship a model checkpoint artifact the same
  *    way and load it per partition ([[CheckpointScorer]] — the
  *    `checkpoint.pth` wiring, M2);
  *  - `--centroid <model.gcm>`: ship a TRAINED [[CentroidModel]]
  *    checkpoint (the `graft.Train` output) the same way and serve it
  *    per partition ([[CentroidScorer]]) — manifest lines are image
  *    paths, decoded for real and scored against the learned centroids
  *    (M2 + M4 with an actual model, not the hash stand-in);
  *  - `--labels <file|dir>`: the reference's label-dictionary load
  *    precedence ([[LabelDict.load]]); default is the pinned 30-class
  *    dictionary.
  *
  * Flags: `--single-file` writes the sorted output as one part file
  * (byte-parity with the reference's single reducer `part-r-00000`;
  * deliberately opt-in — at scale you want one file per range partition).
  * It asks [[Sinks.keyRanges]] for one range, so the scoring stage runs
  * as one task — still scoring each image once.
  *
  * Usage errors and job failures exit 1, success exits 0, exactly as the
  * reference driver does.
  */
object Main {

  private val Usage =
    "Usage: graft.Main <input_list.txt> <output_dir> [--labels <file|dir>] " +
      "[--pipe <script>] [--pipe-streaming <script>] [--checkpoint <file>] " +
      "[--centroid <model.gcm>] [--logit <model.glm>] [--batch-size N] " +
      "[--single-file]"

  def main(args: Array[String]): Unit = {
    val code = run(args)
    if (code != 0) sys.exit(code)
  }

  /** Spec-friendly entry: no `System.exit`, optional injected session. */
  def run(args: Array[String], existing: Option[SparkSession] = None): Int = {
    parse(args) match {
      case None =>
        System.err.println(Usage)
        1
      case Some(cfg) =>
        val spark = existing.getOrElse(buildSession())
        try {
          runJob(spark, cfg)
          0
        } catch {
          case e: Exception =>
            System.err.println(s"[graft.Main] job failed: ${e.getMessage}")
            1
        } finally if (existing.isEmpty) spark.stop()
    }
  }

  final case class Config(manifest: String, outDir: String,
      labelsPath: Option[String] = None, pipeScript: Option[String] = None,
      pipeStreaming: Option[String] = None, checkpoint: Option[String] = None,
      centroid: Option[String] = None, logit: Option[String] = None,
      batchSize: Int = Infer.DefaultBatchSize, singleFile: Boolean = false)

  private def parse(args: Array[String]): Option[Config] = {
    def loop(rest: List[String], pos: List[String], cfg: Config): Option[Config] =
      rest match {
        case Nil =>
          // --pipe / --pipe-streaming / --checkpoint each pick a scorer;
          // passing two would silently run the first match's semantics
          // (per-batch subprocess when the user asked for the streaming
          // scorer), so combinations are a usage error, not a preference.
          val scorers = Seq(cfg.pipeScript, cfg.pipeStreaming,
            cfg.checkpoint, cfg.centroid, cfg.logit).count(_.isDefined)
          if (pos.length == 2 && scorers <= 1)
            Some(cfg.copy(manifest = pos(1), outDir = pos(0)))
          else None
        case "--labels" :: v :: t      => loop(t, pos, cfg.copy(labelsPath = Some(v)))
        case "--pipe" :: v :: t        => loop(t, pos, cfg.copy(pipeScript = Some(v)))
        case "--pipe-streaming" :: v :: t =>
          loop(t, pos, cfg.copy(pipeStreaming = Some(v)))
        case "--checkpoint" :: v :: t  => loop(t, pos, cfg.copy(checkpoint = Some(v)))
        case "--centroid" :: v :: t    => loop(t, pos, cfg.copy(centroid = Some(v)))
        case "--logit" :: v :: t       => loop(t, pos, cfg.copy(logit = Some(v)))
        case "--batch-size" :: v :: t  =>
          v.toIntOption.filter(_ > 0) match {
            case Some(n) => loop(t, pos, cfg.copy(batchSize = n))
            case None    => None
          }
        case "--single-file" :: t      => loop(t, pos, cfg.copy(singleFile = true))
        case s :: t if !s.startsWith("--") && pos.length < 2 => loop(t, s :: pos, cfg)
        case _ => None
      }
    loop(args.toList, Nil, Config("", ""))
  }

  /** Standalone session. `spark-submit` injects `spark.master` as a system
    * property — only default to local mode when it hasn't. */
  private def buildSession(): SparkSession = {
    val b = SparkSession.builder()
      .appName("graft-batch-prediction")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    val withMaster =
      if (sys.props.contains("spark.master")) b
      else b.master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
    withMaster.getOrCreate()
  }

  private def runJob(spark: SparkSession, cfg: Config): Unit = {
    import spark.implicits._

    // Hadoop FileOutputFormat contract: pre-existing output dir is an error.
    val outPath = new org.apache.hadoop.fs.Path(cfg.outDir)
    val fs = outPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(outPath))
      throw new IllegalStateException(s"output directory already exists: ${cfg.outDir}")

    val labels = cfg.labelsPath match {
      case Some(p) => LabelDict.load(p)
      case None    => LabelDict(graft.operators.Pipeline.Labels)
    }

    // Payload = the manifest line itself. The reference's mapper fetches
    // the addressed blob and scores its bytes; the blob fetch is
    // [[Media.fetchByManifest]] and the neural net is sandbox-stubbed, so
    // the CLI scores the address deterministically — same dataflow, same
    // output contract.
    val items = Sinks.keyRanges(Sources.manifest(spark, cfg.manifest),
      singleFile = cfg.singleFile).map(line => Item(line, line))

    val preds = if (cfg.logit.isDefined) {
      // The logistic head (graft.Train --logit output): the artifact
      // ALWAYS pins its label names — they are the serving dictionary,
      // and an explicit --labels must match them (the same
      // dictionary-drift refusal as the centroid v2 path).
      val model = cfg.logit.get
      val m = pipeline.LogitModel.load(model) // driver-side validate
      val servingLabels = cfg.labelsPath match {
        case None => LabelDict(m.labels)
        case Some(_) =>
          require(labels.labels == m.labels,
            s"--labels dictionary [${labels.labels.mkString(",")}] does " +
              s"not match the logit artifact's [${m.labels.mkString(",")}]")
          labels
      }
      spark.sparkContext.addFile(model)
      val name = new java.io.File(model).getName
      Infer.classify(items, new pipeline.LogitScorer(name), servingLabels,
        cfg.batchSize)
    } else (cfg.pipeScript, cfg.pipeStreaming, cfg.checkpoint,
        cfg.centroid) match {
      case (Some(script), _, _, _) =>
        spark.sparkContext.addFile(script)
        val name = new java.io.File(script).getName
        Infer.classifyPiped(items, PipeScorer.fromSparkFiles(name), labels,
          cfg.batchSize)
      case (None, Some(script), _, _) =>
        // One long-lived subprocess per partition (model loads once, not
        // once per batch); a per-row protocol failure yields the M3
        // sentinel via Infer.classify's per-item catch.
        spark.sparkContext.addFile(script)
        val name = new java.io.File(script).getName
        Infer.classify(items, StreamingPipeScorer.fromSparkFiles(name), labels,
          cfg.batchSize)
      case (None, None, Some(ckpt), _) =>
        // The reference's checkpoint.pth DistributedCache wiring: ship the
        // artifact, load it per partition on the executor.
        spark.sparkContext.addFile(ckpt)
        val name = new java.io.File(ckpt).getName
        Infer.classify(items, new CheckpointScorer(name, labels.size), labels,
          cfg.batchSize)
      case (None, None, None, Some(model)) =>
        // The TRAINED model (graft.Train output): same DistributedCache
        // wiring, but the scorer decodes real pixels and serves learned
        // centroids — manifest lines are image paths. The model's class
        // INDICES must serve the dictionary they were learned against:
        // a v2 artifact pins its label names, so they become the
        // serving dictionary (an explicit --labels must match them);
        // for a v1 artifact the class count must at least agree —
        // silently letting LabelDict's labels(0) fallback relabel a
        // real prediction is the dictionary-drift failure mode
        // graft.Train rejects at update time.
        val m = pipeline.CentroidModel.load(model) // driver-side validate
        val artifactNames = pipeline.CentroidModel.labelNamesOf(model)
        val servingLabels = (cfg.labelsPath, artifactNames) match {
          case (None, Some(names)) => LabelDict(names)
          case (Some(_), Some(names)) =>
            require(labels.labels == names,
              s"--labels dictionary [${labels.labels.mkString(",")}] does " +
                s"not match the model artifact's [${names.mkString(",")}]")
            labels
          case (_, None) =>
            require(m.numClasses == labels.size,
              s"model has ${m.numClasses} classes but the label " +
                s"dictionary has ${labels.size} — pass --labels for the " +
                "tree the model was trained on")
            labels
        }
        spark.sparkContext.addFile(model)
        val name = new java.io.File(model).getName
        Infer.classify(items, new CentroidScorer(name), servingLabels,
          cfg.batchSize)
      case (None, None, None, None) =>
        Infer.classify(items, new HashScorer(labels.size), labels,
          cfg.batchSize)
    }

    Sinks.writeKeyOrderedTsv(preds, cfg.outDir)
  }
}
