package graft.tools

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.operators._
import graft.operators.Flatten.FlatDp
import graft.sources.OsdbJson
import graft.streaming.Replay
import graft.functions.TimeParse

/** End-to-end drive of the OSDB engine's public API (SURVEY §7.2 slice):
  * ingest → tidy → filter → flatten+validate → features → history →
  * replay → detection stats. Prints row counts at each stage.
  */
object OsdbDemo {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.builder("local[4]", 4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try graft.Scoped.query(demo(spark)) finally spark.stop()
  }

  /** The drive itself, as one query: the validated datapoints it pins
    * are released when it returns. */
  private def demo(spark: org.apache.spark.sql.SparkSession): Unit = {
    import spark.implicits._

    // synth category file: 6 events, one with a 5 Hz "seizure" signature
    val dir = Files.createTempDirectory("osdb_demo")
    val hot = Array.tabulate(125)(i =>
      100.0 * math.sin(2 * math.Pi * 5.0 * i / 25.0)).mkString("[", ",", "]")
    val quiet = Array.fill(125)(0.5).mkString("[", ",", "]")
    val xyz = Array.tabulate(375) { j =>
      if (j % 3 == 0) 50.0 * math.sin(2 * math.Pi * 3.0 * (j / 3) / 25.0) else 0.0
    }.mkString("[", ",", "]")
    val events = (1 to 6).map { i =>
      val isSeiz = i <= 2
      val raw = if (isSeiz) hot else quiet
      val dps = (0 until 4).map { k =>
        s"""{"eventId":"$i","dataTime":"09-05-2022 02:0$i:${10 + 5 * k}",
           |"hr":${60 + i},"alarmState":0,"rawData":$raw,"rawData3D":$xyz}""".stripMargin
      }.mkString("[", ",", "]")
      s"""{"id":$i,"userId":"u${i % 3}","dataTime":"09-05-2022 02:0$i:10",
         |"type":${if (isSeiz) "\"Seizure\"" else "\"False Alarm\""},
         |"subType":"Tonic-Clonic","desc":"demo event $i","dataSourceName":"phone",
         |"datapoints":$dps}""".stripMargin
    }.mkString("[", ",", "]")
    val f = dir.resolve("allSeizures.json")
    Files.writeString(f, events)

    val raw = OsdbJson.readEvents(spark, Seq(f.toString))
    println(s"[demo] ingest+tidy: ${raw.count()} events")

    val cfg = EventFilterConfig(includeTypes = Seq("seizure", "false alarm"),
      excludeText = Seq("ignore-me"), requireHrData = true)
    val sel = raw.filter(EventFilters.compile(cfg))
    println(s"[demo] filtered: ${sel.count()} events")

    val dps = Flatten.explodeDatapoints(sel)
      .select(col("eventId"), col("userId"), col("typeStr"),
        lit(0).as("type"), TimeParse.dateStr2secs(col("dp.dataTime")).as("tsSec"),
        coalesce(col("dp.alarmState"), lit(0L)).as("osdAlarmState"),
        coalesce(col("dp.specPower"), lit(0.0)).as("osdSpecPower"),
        coalesce(col("dp.roiPower"), lit(0.0)).as("osdRoiPower"),
        coalesce(col("dp.hr"), lit(-1.0)).as("hr"),
        coalesce(col("dp.o2Sat"), lit(-1.0)).as("o2sat"),
        coalesce(col("dp.rawData"), array()).as("rawData"),
        coalesce(col("dp.rawData3D"), array()).as("rawData3D"),
        lit(false).as("synthetic"),
        col("dpIdx").cast("long").as("seq"))
      .withColumn("type",
        when(lower(col("typeStr")).contains("seizure"), 1).otherwise(0))
      .as[FlatDp]
    val valid = graft.Scoped.current.persist(Flatten.validateAndFill(dps))
    println(s"[demo] flatten+validate: ${valid.count()} datapoints")

    val feats = FeatureExtract.extract(valid)
    println(s"[demo] epoch features: ${feats.count()} epochs x " +
      s"${graft.functions.EpochFeatures.FeatureNames.size} features")

    val featCols = feats.toDF()
      .select(col("eventId"), col("tsSec"), col("startSample"),
        col("features")("activity_count_magnitude").as("act_mag"))
    val hist = FeatureHistory.addHistory(featCols, Seq("act_mag"), n = 2)
    println(s"[demo] feature history rows: ${hist.count()}")

    val replayIn = valid.map(d => graft.streaming.ReplayDp(
      d.eventId, d.tsSec, d.hr, d.osdAlarmState, d.rawData, d.rawData3D,
      seq = d.seq))
    val out = Replay.replayBatch(replayIn, Seq("osd:V0", "hr:MODE_SIMPLE"))
    val stats = Replay.detectionStats(out)
    println("[demo] detection stats:")
    stats.orderBy("eventId", "alg").show(20, false)

    val split = Splits.hashSplit(sel, "id", 0.5)
    println("[demo] split sizes: " +
      split.groupBy("split").count().collect().map(r =>
        r.getString(0) + "=" + r.getLong(1)).mkString(", "))

    // W6/P15: per-event spectrogram — the hot events light the 5 Hz row
    val specs = Spectrogram.eventSpectrogram(valid,
      Spectrogram.Config(stepLen = 25, sdThresh = 1.0)).collect()
    specs.sortBy(_.eventId).foreach { r =>
      val hotBin = if (r.spec.nonEmpty && r.spec(0).nonEmpty)
        r.spec.map(row => row.indexOf(row.max)).groupBy(identity)
          .maxBy(_._2.length)._1 + 1 else -1
      println(s"[demo] spectrogram ev=${r.eventId}: ${r.nSlices}x${r.nBins}, " +
        f"dominant bin $hotBin (${hotBin * 0.2}%.1f Hz)")
    }

    // W8/M8 + NnAlg: rolling-buffer NN input path through the replay FSM
    val nnOut = Replay.replayBatch(replayIn, Seq("nn:0:0.5"))
    println("[demo] NnAlg (stub scorer) detections:")
    Replay.detectionStats(nnOut).orderBy("eventId").show(10, false)

    // S3: flattened-CSV round trip
    val csvDir = dir.resolve("flat_csv").toString
    graft.sources.FlatCsv.write(valid.toDF(), csvDir)
    val back = graft.sources.FlatCsv.read(spark, csvDir)
    println(s"[demo] wide-CSV round trip: ${back.count()} datapoints re-read")

    // S6: upsert a corrected event into the lake view
    val corrected = sel.filter(col("id") === "1")
      .withColumn("desc", lit("demo event 1 (curated)"))
    val lake = OsdbJson.upsertEvents(sel, corrected, "id")
    println(s"[demo] lake upsert: ${lake.count()} events, " +
      lake.filter(col("desc").contains("curated")).count() + " corrected")

    // W4: keep-max curation dedup — the two seizure events are 60 s
    // apart, inside the 120 s chain window, so they merge to one
    val evts = sel.withColumn("wts", TimeParse.dateStr2secs(col("dataTime")))
      .withColumn("ndp", size(col("datapoints")))
    val kept = Curate.keepMaxDedup(evts, Seq("type"), "wts", "ndp",
      "id", maxSeconds = 120L)
    println(s"[demo] curation dedup: ${evts.count()} -> ${kept.count()} events")
  }
}
