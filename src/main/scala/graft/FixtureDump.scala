package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.corpus.Corpus

/** Dumps the sf-small corpus' per-level OCR output as JSON lines for
  * fixtures/gen_golden.py, which replays the texts through the
  * *reference* parser (`/root/reference/parsers/tsh.py`,
  * `premium_parse_tsh`) + the `app.py` mode/cascade logic and writes
  * fixtures/golden.json. Reference behavior is captured by execution,
  * not reimplementation (SURVEY.md §5.1-5.2); the dump comes from the
  * same Scala corpus/OCR code the pipeline runs, so there is no
  * dual-generator drift.
  *
  * Run: sbt "runMain graft.FixtureDump fixtures/ocr_dump.jsonl 200"
  */
object FixtureDump {
  def main(args: Array[String]): Unit = {
    val out = if (args.nonEmpty) args(0) else "fixtures/ocr_dump.jsonl"
    val n = if (args.length > 1) args(1).toLong else 200L
    val spark = BenchUtil.localSession("graft-fixture-dump")
    try {
      val docs = Corpus.generate(spark, n)
      val lines = Pipeline.ocrAll(docs).orderBy("doc_id").toJSON.collect()
      val p = Paths.get(out)
      if (p.getParent != null) Files.createDirectories(p.getParent)
      Files.write(p, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
      println(s"[fixture-dump] wrote ${lines.length} docs to $out")
    } finally spark.stop()
  }
}
