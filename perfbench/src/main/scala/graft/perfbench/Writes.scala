package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8

import graft.server.{EntryFlat, WriteProto}
import graft.sources.LineProtocol

/** One prepared write: the same points as LP text for HTTP, or as
  * Entry flatbuffer bytes for gRPC `WriteEntry`. Payloads are built
  * before any timed region. */
final case class Write(points: Vector[Gen.Point], viaGrpc: Boolean, db: Db) {
  val lp: Array[Byte] = Gen.lp(points).getBytes(UTF_8)
  val entryReq: Array[Byte] =
    if (!viaGrpc) Array.emptyByteArray
    else Wire.writeEntryReq(db.name, EntryFlat.linesToEntry(
      LineProtocol.parseLines(Gen.lp(points).split("\n").iterator).toSeq,
      graft.streaming.DatabaseRules.DefaultTemplate, defaultTimeNs = 0L))

  def route: String = if (viaGrpc) "write_entry" else "write_lp"

  /** Sends the write; returns its latency and the failure, if any. */
  def send(s: Server): (Double, Option[String]) = {
    val (r, ms) = Timing.timed(
      if (viaGrpc) Wire.writeEntry(s.rpc, entryReq)
      else Wire.writeLp(s.http, db.orgHex, db.bucketHex, lp))
    (ms, r.value.left.toOption)
  }
}

/** The traced decomposition of one write into its decode layer. */
object WriteLayers {
  final case class Decoded(parseMs: Double, framesMs: Double, entryMs: Double) {
    def totalMs: Double = parseMs + framesMs + entryMs
  }

  /** LP: `LineProtocol.parseLines`, then `LineProtocol.ingest` (the
    * frames the facade lands). Entry: `EntryFlat.decode`, then
    * `WriteProto.toFrames`. */
  def decode(w: Write, spark: org.apache.spark.sql.SparkSession, tr: Tracer,
      req: Long): Decoded =
    if (w.viaGrpc) {
      val (_, sp) = tr.span("server.entry_decode", req) {
        val r = new graft.server.StorageProtoReader.Reader(w.entryReq)
        var entry = Array.emptyByteArray
        while (r.hasMore) r.key() match {
          case (2, 2) => entry = r.bytesField()
          case (_, wt) => r.skip(wt)
        }
        val decoded = EntryFlat.decode(entry).fold(e => sys.error(e), identity)
        WriteProto.toFrames(spark, WriteProto.PbDatabaseBatch(w.db.name,
          decoded.partitionWrites.flatMap(_.tables)))
      }
      Decoded(0, 0, sp.ms)
    } else {
      val lines = new String(w.lp, UTF_8).split("\n").toSeq
      val (_, p) = tr.span("sources.lp_parse", req) {
        LineProtocol.parseLines(lines.iterator).toSeq
      }
      val (_, f) = tr.span("sources.lp_frames", req) {
        LineProtocol.ingest(spark, lines, 0L)
      }
      Decoded(p.ms, f.ms, 0)
    }
}
