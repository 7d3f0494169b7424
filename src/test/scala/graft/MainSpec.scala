package graft

import java.nio.file.{Files, Path}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.pipeline.HashScorer
import graft.operators.Pipeline

/** End-to-end CLI driver: manifest file in → sorted TSV directory out,
  * mirroring the reference's `PredictDriverCluster` invocation. The
  * expected bytes are computed independently in pure Scala (md5 → label
  * index → mantissa), so this checks the whole chain: BOM strip, trim,
  * empty-drop, batching, scoring, `%.4f` assembly, tab framing, global
  * key sort, single-file coalesce, Hadoop output-exists contract. */
class MainSpec extends AnyFunSuite with SparkSpec with Matchers {

  private def tmpDir(): Path = {
    val d = Files.createTempDirectory("graft_main_")
    d.toFile.deleteOnExit()
    d
  }

  private def writeManifest(lines: Seq[String]): Path = {
    val p = Files.createTempFile("graft_manifest_", ".txt")
    Files.writeString(p, lines.mkString("\n"))
    p.toFile.deleteOnExit()
    p
  }

  private def readTsv(outDir: Path): Seq[String] =
    Files.list(outDir).iterator().asScala.toSeq
      .filter(_.getFileName.toString.startsWith("part-"))
      .flatMap(f => Files.readAllLines(f).asScala)
      .toSeq

  private val manifestLines = Seq(
    "﻿/user/data/web/doc 1.jpg", // BOM on first line (reference's own manifest has one)
    "hdfs://nn/data/x#1.png",
    "   ",                            // whitespace-only → dropped (F1)
    "  padded.path  ",                // trimmed
    "",                               // empty → dropped
    "/user/data/books/doc 2.jpg")

  private val surviving =
    Seq("/user/data/web/doc 1.jpg", "hdfs://nn/data/x#1.png",
      "padded.path", "/user/data/books/doc 2.jpg")

  /** Pure-Scala twin of HashScorer + Sinks formatting for one line. */
  private def expectedRow(line: String): String = {
    val idx = (HashScorer.md5u32(line) % Pipeline.Labels.size).toInt
    val mant = HashScorer.md5u32(line + ":p") % 9000L + 1000L
    s"$line\t${Pipeline.Labels(idx)},0.$mant"
  }

  test("hash mode: manifest → classified, key-sorted, single-file TSV") {
    val out = tmpDir().resolve("out")
    val code = Main.run(Array(writeManifest(manifestLines).toString,
      out.toString, "--single-file"), Some(spark))
    code shouldBe 0
    val parts = Files.list(out).iterator().asScala
      .count(_.getFileName.toString.startsWith("part-"))
    parts shouldBe 1
    readTsv(out) shouldBe surviving.sorted.map(expectedRow)
  }

  test("pipe mode: script shipped via addFile scores every row") {
    val script = Files.createTempFile("graft_cli_scorer_", ".sh")
    Files.writeString(script, "#!/bin/sh\nsed 's/$/,2,0.7500/' \"$1\"\n")
    Files.setPosixFilePermissions(script,
      PosixFilePermissions.fromString("rwxr-xr-x"))
    script.toFile.deleteOnExit()
    val out = tmpDir().resolve("out")
    val code = Main.run(Array(writeManifest(manifestLines).toString,
      out.toString, "--pipe", script.toString, "--single-file"), Some(spark))
    code shouldBe 0
    readTsv(out) shouldBe
      surviving.sorted.map(l => s"$l\t${Pipeline.Labels(2)},0.7500")
  }

  test("pipe-streaming mode: long-lived per-partition process, TSV bytes " +
      "equal to pipe-mode ordering") {
    // Line-buffered echo protocol: one `payload,idx,prob` line per input
    // line. sh builtins write per invocation, so each reply is flushed
    // before the next read — the StreamingPipeScorer contract.
    val script = Files.createTempFile("graft_cli_stream_scorer_", ".sh")
    Files.writeString(script,
      "#!/bin/sh\nwhile IFS= read -r line; do\n" +
        "  printf '%s,2,0.7500\\n' \"$line\"\ndone\n")
    Files.setPosixFilePermissions(script,
      PosixFilePermissions.fromString("rwxr-xr-x"))
    script.toFile.deleteOnExit()
    val out = tmpDir().resolve("out")
    val code = Main.run(Array(writeManifest(manifestLines).toString,
      out.toString, "--pipe-streaming", script.toString, "--single-file"),
      Some(spark))
    code shouldBe 0
    readTsv(out) shouldBe
      surviving.sorted.map(l => s"$l\t${Pipeline.Labels(2)},0.7500")
  }

  test("multi-part output: every manifest line scored exactly once, part " +
      "files in name order globally key-sorted") {
    // The scorer logs every payload it receives: a sort whose sampling
    // job re-runs the scoring stage shows up as a second log line.
    val log = tmpDir().resolve("payloads.log")
    val script = Files.createTempFile("graft_cli_logging_scorer_", ".sh")
    Files.writeString(script, "#!/bin/sh\ncat \"$1\" >> '" + log + "'\n" +
      "sed 's/$/,2,0.7500/' \"$1\"\n")
    Files.setPosixFilePermissions(script,
      PosixFilePermissions.fromString("rwxr-xr-x"))
    script.toFile.deleteOnExit()

    val n = 8 * spark.sparkContext.defaultParallelism
    val distinct = new scala.util.Random(7)
      .shuffle((0 until n).map(i => f"/data/img/$i%04d.png"))
    val dupes = distinct.take(5)
    val lines = ("\uFEFF" + distinct.head) +: distinct.tail ++:
      Seq("", "   ") ++: dupes.map(l => s"  $l  ")
    val surviving = (distinct ++ dupes).sorted

    val out = tmpDir().resolve("out")
    Main.run(Array(writeManifest(lines).toString, out.toString,
      "--pipe", script.toString), Some(spark)) shouldBe 0

    val parts = Files.list(out).iterator().asScala.toSeq
      .filter(_.getFileName.toString.startsWith("part-"))
      .sortBy(_.getFileName.toString)
    parts.size should be > 1
    val rows = parts.flatMap(f => Files.readAllLines(f).asScala)
    val keys = rows.map(_.takeWhile(_ != '\t'))
    keys shouldBe keys.sorted
    rows shouldBe surviving.map(l => s"$l\t${Pipeline.Labels(2)},0.7500")
    Files.readAllLines(log).asScala.sorted shouldBe surviving
  }

  test("pre-existing output directory fails the job (Hadoop contract)") {
    val out = tmpDir() // exists
    Main.run(Array(writeManifest(manifestLines).toString, out.toString),
      Some(spark)) shouldBe 1
  }

  test("usage errors exit 1") {
    Main.run(Array("only-one-arg"), Some(spark)) shouldBe 1
    Main.run(Array("a", "b", "--batch-size", "zero"), Some(spark)) shouldBe 1
    Main.run(Array("a", "b", "c"), Some(spark)) shouldBe 1
  }

  test("mutually exclusive scorer flags are a usage error, not a silent " +
      "preference") {
    // --pipe used to win silently over --pipe-streaming / --checkpoint.
    Main.run(Array("a", "b", "--pipe", "s.sh", "--pipe-streaming", "s.sh"),
      Some(spark)) shouldBe 1
    Main.run(Array("a", "b", "--pipe", "s.sh", "--checkpoint", "m.pth"),
      Some(spark)) shouldBe 1
    Main.run(Array("a", "b", "--pipe-streaming", "s.sh", "--checkpoint", "m.pth"),
      Some(spark)) shouldBe 1
  }
}
