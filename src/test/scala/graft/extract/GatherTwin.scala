package graft.extract

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String

/** The whole-text form of [[MultiAnalyteGather.evalCore]], kept as the
  * test oracle of its byte scan: decode the whole text, normalize and
  * split EVERY line ([[linesOf]]), then run the per-line label and
  * fallback logic over every line.
  */
object GatherTwin {

  private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\f' || c == '\u000B'

  private def isBreak(c: Char): Boolean = c == '\n' || c == '\r'

  /** N1 normalize + N2 split in one pass, exactly `TshExtract.normalize`
    * then `split("\n", -1)`:
    * `\r` is a line break, each run of `[ \t\f\x0B]` becomes one space,
    * each run of line breaks one split; leading and trailing empty lines
    * are kept, as `split("\n", -1)` keeps them. Text between rewrites is
    * copied in bulk, and a line with nothing to rewrite is a substring.
    */
  def linesOf(raw: String): Array[String] = {
    val lines = new java.util.ArrayList[String]()
    val sb = new java.lang.StringBuilder()
    val n = raw.length
    var from = 0 // first char not yet copied to sb
    var i = 0
    while (i <= n) {
      val c = if (i < n) raw.charAt(i) else '\n'
      if (c <= ' ') { // every break and whitespace char is <= ' '
        if (isBreak(c)) {
          lines.add(if (sb.length == 0) raw.substring(from, i)
            else sb.append(raw, from, i).toString)
          sb.setLength(0)
          while (i + 1 < n && isBreak(raw.charAt(i + 1))) i += 1
          from = i + 1
        } else if (isWs(c) && (c != ' ' || (i + 1 < n && isWs(raw.charAt(i + 1))))) {
          sb.append(raw, from, i).append(' ')
          while (i + 1 < n && isWs(raw.charAt(i + 1))) i += 1
          from = i + 1
        }
      }
      i += 1
    }
    lines.toArray(new Array[String](lines.size))
  }

  /** What `MultiAnalyteGather(_, configs).evalCore(input)` returns. */
  def gather(input: UTF8String, configs: Seq[AnalyteConfig]): GenericArrayData = {
    val lines = linesOf(input.toString)
    val nm = GatherCore.numP.matcher("")
    val rm = GatherCore.rangeP.matcher("")
    new GenericArrayData(configs.map { cfg =>
      val label = GatherCore.regex(cfg.label)
      val lm = GatherCore.labelMatcher(label.pattern)
      val um = GatherCore.regex(cfg.unit).pattern.matcher("")
      val out = new java.util.ArrayList[InternalRow]()
      lines.indices.foreach(i => GatherCore.labelled(lines(i), i, lm, label, nm, rm, um, out))
      if (cfg.muiFallback && out.isEmpty) {
        val fm = GatherCore.unitFbP.matcher("")
        lines.indices.foreach(j => GatherCore.muiFallback(lines(j), j, nm, rm, fm, out))
      }
      new GenericArrayData(out.toArray)
    }.toArray[Any])
  }
}
