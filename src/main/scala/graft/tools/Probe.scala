package graft.tools


/** Standalone cost-attribution probe for the video-decode path: times the
  * fixture ENCODE alone (PNG and MJPEG payload synthesis) against the full
  * encode+demux+decode pipeline, so a scale receipt can attribute the
  * measured wall-clock to the operator (demux + frame decode) vs the
  * harness (fixture generation). The MJPEG 100× normalized number is only
  * meaningful net of encode cost — JPEG *encode* (forward DCT + Huffman)
  * is test-fixture work a production corpus never pays, while *decode* is
  * the operator's real per-frame cost.
  *
  * Writes one JSON line to `SPARK_GRAFT_PROBE_OUT` (default
  * `BENCH_PROBE.json` — deliberately NOT `BENCH_DETAIL.json`; ad-hoc probe
  * runs must never overwrite the committed full-suite receipt).
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    import graft.llm.Multimodal
    import graft.core.Tables
    def timed(f: => Unit): Double = {
      System.gc(); val t0 = System.nanoTime(); f
      (System.nanoTime() - t0) / 1e9
    }
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    val docs = Tables.documents(spark, sfDir)
    noop(Multimodal.decodeVideo(Multimodal.withVideoPayload(docs, codec = "jpeg"))) // warmup
    val encPng = timed(noop(Multimodal.withVideoPayload(docs)))
    val encJpeg = timed(noop(Multimodal.withVideoPayload(docs, codec = "jpeg")))
    val fullPng = timed(noop(Multimodal.decodeVideo(Multimodal.withVideoPayload(docs))))
    val fullMjpeg = timed(noop(Multimodal.decodeVideo(Multimodal.withVideoPayload(docs, codec = "jpeg"))))
    val json =
      s"""{"metric":"mjpeg_split","unit":"sec","sf":"$sfDir","encode_png":$encPng,"encode_jpeg":$encJpeg,"full_png":$fullPng,"full_mjpeg":$fullMjpeg,"decode_attributed_png":${fullPng - encPng},"decode_attributed_mjpeg":${fullMjpeg - encJpeg}}"""
    println("PROBE " + json)
    val out = sys.env.getOrElse("SPARK_GRAFT_PROBE_OUT", "BENCH_PROBE.json")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json + "\n")
    spark.stop()
  }
}
