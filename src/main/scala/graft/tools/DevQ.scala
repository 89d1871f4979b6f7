package graft.tools

import org.apache.spark.sql.functions._

/** Dev-only decomposition timer for optimization-round hot spots. */
object DevQ {
  def main(args: Array[String]): Unit = {
    val sfDir =
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.engine.GraftSession.local(32, "graft-devq")
    graft.engine.GraftSession.quietKnownBenignWarnings()
    import graft.operators.{Dedup, Multimodal}
    import graft.engine.{CacheScope, Tables}

    def time[A](label: String)(f: => A): A = {
      spark.catalog.clearCache()
      System.gc()
      val t0 = System.nanoTime(); val r = f
      println(f"[devq] $label%-44s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
      r
    }
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    val docs = Tables.documents(spark, sfDir)
    for (round <- 1 to 2) {
      println(s"--- round $round ---")
      // ---- q312 decomposition (GIF clip clusters) ----
      time("q312 a: clip GIF fixture encode") {
        noop(Multimodal.encodeClipGifFixture(docs, "doc_id").toDF())
      }
      time("q312 b: + gif fps decode") {
        noop(Multimodal.gifFrameFingerprints(
          Multimodal.encodeClipGifFixture(docs, "doc_id")).toDF())
      }
      def fpsGif = Multimodal.gifFrameFingerprints(
        Multimodal.encodeClipGifFixture(docs, "doc_id")).toDF()
        .where(col("ok") === 1L)
        .select(col("doc_id"), col("frame_idx"), col("fp"))
      time("q312 c: + containment pairs") {
        noop(Dedup.sequenceShingleContainment(
          CacheScope.unmanaged.persist(fpsGif),
          "doc_id", "frame_idx", "fp", 3, 1, 2, 100L))
      }
      time("q312 d: full clusters") {
        noop(Dedup.sequenceShingleClusters(
          CacheScope.unmanaged.persist(fpsGif),
          "doc_id", "frame_idx", "fp", 3, 1, 2, 100L))
      }
      // ---- q314 video sibling (clip MJPEG) ----
      def fpsClip = Multimodal.videoFrameFingerprints(
        Multimodal.encodeClipMjpegFixture(docs, "doc_id")).toDF()
        .where(col("ok") === 1L)
        .select(col("doc_id"), col("frame_idx"), col("fp"))
      time("q314 a: clip MJPEG fixture encode") {
        noop(Multimodal.encodeClipMjpegFixture(docs, "doc_id").toDF())
      }
      time("q314 b: + video fps decode") {
        noop(Multimodal.videoFrameFingerprints(
          Multimodal.encodeClipMjpegFixture(docs, "doc_id")).toDF())
      }
      time("q314 c: full clusters") {
        noop(Dedup.sequenceShingleClusters(
          CacheScope.unmanaged.persist(fpsClip),
          "doc_id", "frame_idx", "fp", 3, 1, 2, 100L))
      }
      time("q314 d: keepBest over clusters") {
        val fps = CacheScope.unmanaged.persist(fpsClip)
        noop(Multimodal.keepBest(
          Dedup.sequenceShingleClusters(fps, "doc_id", "frame_idx",
            "fp", 3, 1, 2, 100L),
          fps.groupBy(col("doc_id")).agg(count(lit(1)).as("n_obs")),
          Seq("n_obs")))
      }
      // ---- q17 text pipeline (the crossmodal/q286 text leg) ----
      time("q17 text ngram-jaccard pairs") {
        noop(graft.queries.Ext.q17.run(spark, sfDir))
      }
    }
    spark.stop()
  }
}
