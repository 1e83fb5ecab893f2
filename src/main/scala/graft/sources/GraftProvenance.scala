package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

/** A33: output provenance manifests — the reproducibility record a
  * 100 TB training-data pipeline needs: WHAT inputs (down to their
  * published snapshot epochs) produced THIS output, and a
  * tamper-evident fingerprint of the output itself.
  *
  * `write` lands the frame, then records under `_provenance.json`
  * inside the output dir (underscore-prefixed → invisible to every
  * reader path):
  *   - the declared inputs as (table, snapshot epoch) pairs — joined
  *     with A26's published manifests this pins the byte-exact input
  *     data of the run;
  *   - the output row count, summed from the WRITTEN files' parquet
  *     footers (metadata-only, no rescan);
  *   - the output schema (DDL string);
  *   - a listing signature: a hash over the sorted (relative path,
  *     length) pairs of the output files.
  * `check` recomputes listing signature + footer row count: any file
  * added, removed or size-changed since the write fails it. (It is a
  * layout integrity check, not a cryptographic content hash — same
  * contract as a snapshot manifest.)
  */
object GraftProvenance {

  case class Record(inputs: Seq[(String, Long)], rows: Long,
      schemaDdl: String, signature: Long, note: String)

  private val FileName = "_provenance.json"

  private def conf(s: SparkSession) = s.sessionState.newHadoopConf()

  private def listingSignature(s: SparkSession, path: String): Long = {
    val root = new Path(path).toUri.getPath
    graft.sources.v2.GraftV2.dataFileSizes(path, conf(s)).map { case (f, len) =>
      val rel = new Path(f).toUri.getPath.stripPrefix(root).stripPrefix("/")
      scala.util.hashing.MurmurHash3.stringHash(s"$rel#$len").toLong & 0xffffffffL
    }.sum // order-free over the sorted listing; sum keeps it stable
  }

  private def footerRows(s: SparkSession, path: String): Long =
    graft.sources.v2.GraftV2.dataFiles(path, conf(s)).map { f =>
      graft.sources.v2.GraftV2.withReader(f, conf(s))(
        _.getFooter.getBlocks.asScala.map(_.getRowCount).sum)
    }.sum

  private def esc(x: String): String = x.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** Write `df` to `path` (overwrite) and record its provenance. */
  def write(s: SparkSession, df: DataFrame, path: String,
      inputs: Seq[(String, Long)], note: String = ""): Record = {
    df.write.mode("overwrite").parquet(path)
    val rec = Record(inputs, footerRows(s, path), df.schema.toDDL,
      listingSignature(s, path), note)
    val json =
      s"""{"inputs": [${rec.inputs.map { case (t, v) =>
            s"""{"table": "${esc(t)}", "snapshot": $v}""" }.mkString(", ")}],
         | "rows": ${rec.rows},
         | "schema": "${esc(rec.schemaDdl)}",
         | "signature": ${rec.signature},
         | "note": "${esc(rec.note)}"}""".stripMargin
    val p = new Path(path, FileName)
    val fs = p.getFileSystem(conf(s))
    GraftIO.writeText(fs, p, json, overwrite = true)
    rec
  }

  /** Parse the recorded manifest (fails clearly when absent). */
  def read(s: SparkSession, path: String): Record = {
    val p = new Path(path, FileName)
    val fs = p.getFileSystem(conf(s))
    val body = GraftIO.readText(fs, p).getOrElse(throw new IllegalArgumentException(
      s"[GRAFT] no provenance manifest under $path"))
    // hand-rolled parse of the hand-rolled writer above — the two are
    // a matched pair, not a general JSON reader
    def longField(name: String): Long =
      s""""$name": (-?\\d+)""".r.findFirstMatchIn(body).map(_.group(1).toLong)
        .getOrElse(throw new IllegalStateException(
          s"[GRAFT] provenance manifest under $path lacks $name"))
    def strField(name: String): String =
      s""""$name": "((?:[^"\\\\]|\\\\.)*)"""".r.findFirstMatchIn(body)
        .map(m => unesc(m.group(1))).getOrElse("")
    val inputs = """\{"table": "((?:[^"\\]|\\.)*)", "snapshot": (-?\d+)\}""".r
      .findAllMatchIn(body).map(m => (unesc(m.group(1)), m.group(2).toLong)).toSeq
    Record(inputs, longField("rows"), strField("schema"),
      longField("signature"), strField("note"))
  }

  private def unesc(x: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < x.length) {
      if (x(i) == '\\' && i + 1 < x.length) {
        x(i + 1) match {
          case 'n' => sb.append('\n'); i += 2
          case 'u' => sb.append(Integer.parseInt(x.substring(i + 2, i + 6), 16).toChar); i += 6
          case c => sb.append(c); i += 2
        }
      } else { sb.append(x(i)); i += 1 }
    }
    sb.toString
  }

  /** Does the output still match its manifest? Recomputes the listing
    * signature and the footer row count.
    */
  def check(s: SparkSession, path: String): Boolean = {
    val rec = read(s, path)
    rec.signature == listingSignature(s, path) && rec.rows == footerRows(s, path)
  }
}
