package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.corpus.Corpus
import graft.media.BinaryOps

/** Dumps the q34 corpus' media assets (media_ref, mime, content — the
  * binary payload base64-encoded by Spark's JSON writer) for
  * fixtures/gen_media_expected.py, which re-implements the
  * [[graft.media.BinaryOps.StubCodec]] decode/frame-sampling semantics
  * in Python over the dumped bytes and writes
  * fixtures/expected_media.parquet — the q34 DuckDB oracle. The asset
  * payloads ride the dump (same no-dual-generator-drift rule as
  * [[FixtureDump]]); what the oracle independently checks is the codec
  * semantics and the decode/frame/join pipeline around them.
  *
  * Run: sbt "runMain graft.MediaDump fixtures/assets_dump.jsonl 2000"
  */
object MediaDump {
  def main(args: Array[String]): Unit = {
    val out = if (args.nonEmpty) args(0) else "fixtures/assets_dump.jsonl"
    val n = if (args.length > 1) args(1).toLong else 2000L
    val spark = BenchUtil.localSession("graft-media-dump")
    try {
      val assets = BinaryOps.assetsFor(Corpus.generate(spark, n))
      val lines = assets.orderBy("media_ref").toJSON.collect()
      val p = Paths.get(out)
      if (p.getParent != null) Files.createDirectories(p.getParent)
      Files.write(p, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
      println(s"[media-dump] wrote ${lines.length} assets to $out")
    } finally spark.stop()
  }
}
