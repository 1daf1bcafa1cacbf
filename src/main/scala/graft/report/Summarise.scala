package graft.report

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.Scoped
import graft.operators.Flatten.FlatDp
import graft.operators.Spectrogram

/** The reference's presentation layer — HTML event summaries and the
  * category index (`user_tools/dataSummariser/summariseData.py:105-203`,
  * per-event pages :227-300; plot emission
  * `dataSummariser/eventAnalyser.py:280-560`) — re-expressed for an
  * engine: the reference renders matplotlib PNGs and Jinja templates
  * one event at a time in the driver process; here
  *
  *   - the INDEX summary (category classification + per-event stats) is
  *     a distributed aggregate like any other query — oracled as
  *     rpt1_summary_index;
  *   - the PER-EVENT pages render ON THE EXECUTORS: each task computes
  *     its events' series + spectral history (the real
  *     [[Spectrogram.spectralHistory]] kernel, W6/P15) and writes
  *     self-contained HTML with inline SVG charts — no image library,
  *     no driver bottleneck. A 1M-event report streams out of the
  *     tasks; the driver only renders the (bounded, by construction)
  *     index page.
  *
  * SVG replaces matplotlib deliberately: the charts are pure string
  * assembly over the already-computed numbers, so the report stage adds
  * ZERO dependencies and stays testable byte-for-byte. Executors open
  * the output filesystem with the SESSION's Hadoop configuration: the
  * driver serializes the conf entries into the task closure
  * ([[Summarise.HadoopConfBox]]) so object-store credentials / custom
  * `fs.*` schemes set on the session reach the task-side writes.
  *
  * The INDEX is sharded: per-category pages of at most `pageSize` event
  * rows, rendered and written ON THE EXECUTORS with prev/next links
  * (the same bounded-pagination discipline as the Web API source's DRF
  * `next` chain). The driver writes only the four-row category TOC —
  * driver memory is O(partitions), flat in the number of events. */
object Summarise {

  // -------------------------------------------------------- path + conf safety

  /** Filesystem-safe form of an (untrusted — Web API JSON originated)
    * event id. Ids are embedded in output paths (`Event_<id>_summary`)
    * and index hrefs; a raw '/', '\' or '..' segment would let an
    * external record steer executor writes outside outDir. Safe chars
    * pass through; every other UTF-8 byte escapes as `=XX` hex ('='
    * itself too, so the mapping stays injective). '=' rather than the
    * URL '%' deliberately: '%' is re-quoted/decoded inconsistently by
    * `java.net.URI` vs Hadoop `Path`, so a percent-escaped name would
    * not round-trip path→href; '=' is URI-path-legal and inert (it is
    * what Hive partition dirs use). Used by BOTH the page writer and
    * the index renderer so links always match paths. */
  def sanitizeId(id: String): String = {
    val s = if (id == null) "" else id
    val ok = (c: Char) =>
      (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
        (c >= '0' && c <= '9') || c == '.' || c == '_' || c == '-'
    val esc =
      if (s.nonEmpty && s.forall(ok)) s
      else {
        val b = new StringBuilder
        s.getBytes("UTF-8").foreach { byte =>
          val c = (byte & 0xff).toChar
          if (byte >= 0 && ok(c)) b.append(c)
          else b.append(f"=${byte & 0xff}%02X")
        }
        if (b.isEmpty) "_" else b.toString
      }
    // length cap: `Event_<id>_summary` must fit a 255-byte filename, so
    // an oversized (hostile or just odd) external id truncates to a
    // 64-char prefix + an `=h` marker + 16 LOWERCASE hex chars of the
    // ORIGINAL id's MD5. The marker keeps the mapping injective against
    // forgery: a pass-through id can never contain '=' (not in the safe
    // set) and an escaped id's '=' is always followed by two UPPERCASE
    // hex digits, so no other input can produce an "=h…" suffix and
    // claim a capped id's page directory. Capped-vs-capped collisions
    // are 64-bit-hash bounded.
    if (esc.length <= 128) esc
    else {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      esc.take(64) + "=h" +
        md.take(8).map(b => f"${b & 0xff}%02x").mkString
    }
  }

  /** The session Hadoop configuration, shipped to tasks as plain
    * (key, value) entries — `Configuration` itself is not
    * `java.io.Serializable`. Rebuilt once per deserialized task
    * (transient lazy), not once per record. */
  final class HadoopConfBox(entries: Array[(String, String)]) extends Serializable {
    @transient lazy val conf: org.apache.hadoop.conf.Configuration = {
      val c = new org.apache.hadoop.conf.Configuration(false)
      entries.foreach { case (k, v) => c.set(k, v) }
      c
    }
  }

  object HadoopConfBox {
    def fromSession(spark: SparkSession): HadoopConfBox = {
      val it = spark.sparkContext.hadoopConfiguration.iterator()
      val buf = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      while (it.hasNext) { val e = it.next(); buf += ((e.getKey, e.getValue)) }
      new HadoopConfBox(buf.toArray)
    }
  }

  // ------------------------------------------------------------ index side

  /** Category classification exactly as the reference buckets its index
    * (summariseData.py:168-180): Tonic-Clonic seizures land in BOTH
    * `tcSeizures` and `allSeizures`; the rest partition by type. Input
    * is the nested-event shape (id, userId, type, subType,
    * dataSourceName, n_dp); output adds one row per (event, category).
    */
  def indexSummary(nested: DataFrame): DataFrame =
    nested.select(col("id"), col("userId"), col("type"), col("subType"),
        col("dataSourceName"), col("n_dp"))
      .withColumn("category", explode(
        when(col("type") === "Seizure" && col("subType") === "tonicClonic",
          array(lit("tcSeizures"), lit("allSeizures")))
          .when(col("type") === "Seizure", array(lit("allSeizures")))
          .when(col("type") === "False Alarm", array(lit("falseAlarms")))
          .otherwise(array(lit("otherEvents")))))

  /** Per-user rollup (userSummary.template's data table): event counts
    * by category per user — the same distributed aggregate class as
    * [[indexSummary]]. */
  def userSummary(nested: DataFrame): DataFrame =
    indexSummary(nested)
      .groupBy("userId", "category")
      .agg(count(lit(1)).as("n"), sum(col("n_dp")).as("dp_sum"))

  // ------------------------------------------------------------- SVG layer

  private def esc(s: String): String =
    if (s == null) "-"
    else s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
      // quotes too: escaped values land in attribute contexts (href)
      .replace("\"", "&quot;")

  /** The one polyline renderer behind both public charts — min-max
    * y-scale over the PRESENT values, `missing` decides presence. */
  private def polylineCore(series: Seq[Double], w: Int, h: Int,
                           stroke: String, title: String,
                           missing: Double => Boolean): String = {
    val present = series.filterNot(missing)
    val (lo, hi) =
      if (present.isEmpty) (0.0, 1.0)
      else (present.min, math.max(present.max, present.min + 1e-9))
    val pts = series.zipWithIndex.collect {
      case (v, i) if !missing(v) =>
        val x = if (series.size <= 1) 0.0 else i.toDouble * w / (series.size - 1)
        val y = h - (v - lo) / (hi - lo) * h
        f"$x%.1f,$y%.1f"
    }
    s"""<svg viewBox="0 0 $w $h" width="$w" height="$h" role="img">""" +
      s"""<title>${esc(title)}</title>""" +
      s"""<rect width="$w" height="$h" fill="#fafafa"/>""" +
      s"""<polyline fill="none" stroke="$stroke" stroke-width="1.5" points="${pts.mkString(" ")}"/>""" +
      "</svg>"
  }

  /** Polyline chart of a series (missing values < 0 are skipped — the
    * reference's -1 sentinel convention; NaN is missing too, matching
    * the pre-refactor `_ >= 0` filter where NaN failed the comparison —
    * one NaN datapoint must not blank the whole chart's scale). */
  def svgPolyline(series: Seq[Double], w: Int, h: Int,
                  stroke: String = "#1f77b4", title: String = ""): String =
    polylineCore(series, w, h, stroke, title, v => v < 0 || v.isNaN)

  /** Polyline over a SIGNED series (min-max y-scale, NaN = missing) —
    * the skewness/kurtosis chart class, where negative values are data,
    * not [[svgPolyline]]'s -1 missing sentinel. */
  def svgSignedPolyline(series: Seq[Double], w: Int, h: Int,
                        stroke: String = "#1f77b4", title: String = ""): String =
    polylineCore(series, w, h, stroke, title, v => v.isNaN)

  /** Multi-series polyline chart with a text legend — the SVG analog
    * of plotAnalysisGraph's stacked series (eventAnalyser.py:513-552).
    * All series share one y-scale (the reference overlays them too);
    * missing values < 0 are skipped per series. */
  def svgMultiline(series: Seq[(String, String, Seq[Double])],
                   w: Int, h: Int, title: String = ""): String = {
    val present = series.flatMap(_._3).filter(_ >= 0)
    // fixed zero baseline: the analysis series are non-negative powers/
    // ratios/states, and a shared zero anchor is what makes the
    // overlaid series comparable (unlike svgPolyline's per-series span)
    val lo = 0.0
    val hi = if (present.isEmpty) 1.0 else math.max(present.max, 1e-9)
    val lines = series.map { case (_, color, vals) =>
      val pts = vals.zipWithIndex.collect {
        case (v, i) if v >= 0 =>
          val x = if (vals.size <= 1) 0.0 else i.toDouble * w / (vals.size - 1)
          val y = h - (v - lo) / (hi - lo) * h
          f"$x%.1f,$y%.1f"
      }
      s"""<polyline fill="none" stroke="$color" stroke-width="1.5" points="${pts.mkString(" ")}"/>"""
    }
    val legend = series.zipWithIndex.map { case ((label, color, _), i) =>
      s"""<text x="6" y="${14 + i * 14}" fill="$color" font-size="11">${esc(label)}</text>"""
    }
    s"""<svg viewBox="0 0 $w $h" width="$w" height="$h" role="img">""" +
      s"""<title>${esc(title)}</title>""" +
      s"""<rect width="$w" height="$h" fill="#fafafa"/>""" +
      lines.mkString + legend.mkString + "</svg>"
  }

  /** Spectral-history heatmap (slices × frequency bins), grayscale by
    * per-image max — the SVG twin of plotSpectralHistory's PNG. One
    * rect per cell; cells at zero are skipped (the background shows
    * through), so low-motion-zeroed slices render blank exactly like
    * the reference's sdThresh gating.
    *
    * GIANT-EVENT GUARD: never emit more columns than pixels. A
    * 10⁶-sample event yields ~40,000 spectral slices at the default
    * 25-sample step; at w=600 that is sub-pixel columns and ~2.4M
    * <rect>s — a 184 MB page (SCALING.md, "Round 13: giant-event skew").
    * When slices > w, adjacent columns MAX-pool into ≤ w buckets —
    * consistent with the per-image-max grayscale (peaks survive), and
    * a no-op (bit-identical output) for every image that already fits,
    * so the fixture renders and the ReportSpec pins are untouched. */
  def svgHeatmap(img0: Array[Array[Double]], w: Int, h: Int,
                 title: String = ""): String = {
    val img =
      if (img0.length <= w) img0
      else {
        val pooled = Array.fill(w)(Array.empty[Double])
        var s = 0
        while (s < img0.length) {
          val b = (s.toLong * w / img0.length).toInt
          val row = img0(s)
          if (pooled(b).isEmpty) pooled(b) = row.clone()
          else {
            var k = 0
            val m = math.min(pooled(b).length, row.length)
            while (k < m) {
              if (row(k) > pooled(b)(k)) pooled(b)(k) = row(k)
              k += 1
            }
          }
          s += 1
        }
        pooled
      }
    val slices = img.length
    val bins = if (slices == 0) 0 else img(0).length
    val peak = if (slices == 0) 0.0 else img.map(s => if (s.isEmpty) 0.0 else s.max).max
    val cw = if (slices == 0) 0.0 else w.toDouble / slices
    val ch = if (bins == 0) 0.0 else h.toDouble / bins
    val cells = new StringBuilder
    var s = 0
    while (s < slices) {
      var b = 0
      while (b < bins) {
        val v = img(s)(b)
        if (v > 0 && peak > 0) {
          val shade = 255 - math.min(255, (v / peak * 255).toInt)
          cells.append(
            f"""<rect x="${s * cw}%.1f" y="${h - (b + 1) * ch}%.1f" width="${cw max 1.0}%.1f" height="${ch max 1.0}%.1f" fill="rgb($shade,$shade,$shade)"/>""")
        }
        b += 1
      }
      s += 1
    }
    s"""<svg viewBox="0 0 $w $h" width="$w" height="$h" role="img">""" +
      s"""<title>${esc(title)}</title>""" +
      s"""<rect width="$w" height="$h" fill="#ffffff" stroke="#ccc"/>""" +
      cells.toString + "</svg>"
  }

  // -------------------------------------------------------- per-event pages

  case class EventPage(eventId: String, path: String, nBytes: Long)

  /** The per-event summary page (index.html.template's data table +
    * the reference's five plots as inline SVG: rawData, HR, the
    * analysis graph's two panels — spectrum/ROI powers and ROI ratio
    * with alarm state, eventAnalyser.py:513-552 — and the mean power
    * spectrum, :554-600, plus the spectral-history heatmap). */
  def renderEventHtml(eventId: String, userId: String, typeStr: String,
                      nDp: Int, dpMeans: Seq[Double], hrs: Seq[Double],
                      specPowers: Seq[Double], roiPowers: Seq[Double],
                      roiRatios: Seq[Double], alarms: Seq[Double],
                      meanSpectrum: Seq[Double],
                      spec: Array[Array[Double]],
                      bandTotals: Seq[Double] = Seq.empty,
                      stds: Seq[Double] = Seq.empty,
                      maxes: Seq[Double] = Seq.empty,
                      skews: Seq[Double] = Seq.empty,
                      kurts: Seq[Double] = Seq.empty,
                      skip: Set[String] = Set.empty): String = {
    // skipElements (osdbCfg): tidy drops the listed fields from every
    // expanded datapoint/event (libosd/tidy_db.py:66,83,105,150), so a
    // skipped field's sections never render. 'rawData' feeds the
    // acceleration chart and EVERY derived analysis series; 'hr' feeds
    // the heart-rate chart. Other FlatDp-renderable fields have no
    // section of their own (rawData3D/o2sat are carried, not drawn).
    val accSections =
      if (skip("rawData")) ""
      else s"""<h2>Acceleration (per-datapoint mean magnitude, mg)</h2>
       |${svgPolyline(dpMeans, 600, 120, "#1f77b4", "acceleration")}""".stripMargin
    val hrSection =
      if (skip("hr")) ""
      else s"""<h2>Heart rate (bpm)</h2>
       |${svgPolyline(hrs, 600, 120, "#d62728", "heart rate")}""".stripMargin
    val analysisSections =
      if (skip("rawData")) ""
      else s"""<h2>Spectrum / ROI powers</h2>
       |${svgMultiline(Seq(
           ("Spectrum Power", "#1f77b4", specPowers),
           ("ROI Power", "#ff7f0e", roiPowers)), 600, 140, "powers")}
       |<h2>ROI ratio &amp; alarm state</h2>
       |${svgMultiline(Seq(
           ("ROI Ratio", "#2ca02c", roiRatios),
           ("Alarm State", "#d62728", alarms)), 600, 140, "roi ratio")}
       |<h2>Mean power spectrum</h2>
       |${svgPolyline(meanSpectrum, 600, 120, "#9467bd", "spectrum")}
       |<h2>Spectral history</h2>
       |${svgHeatmap(spec, 600, 180, "spectral history")}
       |<h2>Band energy (3&ndash;8 Hz)</h2>
       |${svgPolyline(bandTotals, 600, 120, "#8c564b", "band energy")}
       |<h2>Std &amp; max acceleration</h2>
       |${svgMultiline(Seq(
           ("Std Accel", "#1f77b4", stds),
           ("Max Accel", "#ff7f0e", maxes)), 600, 140, "std/max accel")}
       |<h2>Skewness</h2>
       |${svgSignedPolyline(skews, 600, 120, "#2ca02c", "skewness")}
       |<h2>Kurtosis</h2>
       |${svgSignedPolyline(kurts, 600, 120, "#d62728", "kurtosis")}""".stripMargin
    s"""<!DOCTYPE html>
       |<html><head><meta charset="utf-8"><title>Event ${esc(eventId)}</title>
       |<style>body{font-family:sans-serif;margin:2em}table{border-collapse:collapse}
       |td,th{border:1px solid #999;padding:4px 10px}h2{margin-top:1.5em}</style>
       |</head><body>
       |<h1>Event ${esc(eventId)} Summary</h1>
       |<table>
       |<tr><th>Event ID</th><td>${esc(eventId)}</td></tr>
       |<tr><th>User ID</th><td>${esc(userId)}</td></tr>
       |<tr><th>Type</th><td>${esc(typeStr)}</td></tr>
       |<tr><th>Datapoints</th><td>$nDp</td></tr>
       |</table>
       |$accSections
       |$hrSection
       |$analysisSections
       |</body></html>
       |""".stripMargin
  }

  /** Render + WRITE one page per event, executor-side. Returns
    * (eventId, path, n_bytes) — the bounded metadata the index joins.
    * Pages land at `outDir/Event_<sanitized-id>_summary/index.html` (the
    * reference's URL shape, summariseData.py:166; ids sanitized because
    * they are external data — see [[sanitizeId]]).
    *
    * `packed = true` switches to per-TASK page bundles: one
    * `pages-<partition>.jsonl` NDJSON file per non-empty partition,
    * each line `{"eventId": ..., "html": ...}`, read back with
    * [[readPackedPages]]. A 10M-event report is then O(tasks) files
    * instead of O(events) — object stores price LIST/HEAD per object,
    * and 10M tiny objects is a metadata hostility no prefix layout
    * fixes. Page CONTENT is identical in both modes (one shared render
    * path); only the container changes. Returned paths are
    * `<bundleFile>#<eventId>`. */
  def writeEventPages(dps: Dataset[FlatDp], outDir: String,
                      cfg: Spectrogram.Config = Spectrogram.Config(),
                      packed: Boolean = false,
                      skip: Set[String] = Set.empty)
      : Dataset[EventPage] = {
    val spark = dps.sparkSession
    import spark.implicits._
    val confBox = HadoopConfBox.fromSession(spark)
    val rendered = dps.groupByKey(_.eventId).mapGroups { (eventId, it) =>
      (eventId, renderGroupHtml(eventId, it, cfg, skip))
    }
    if (packed) {
      rendered.mapPartitions { it =>
        if (it.isEmpty) Iterator.empty
        else {
          val pid = org.apache.spark.TaskContext.getPartitionId()
          val p = new org.apache.hadoop.fs.Path(outDir, f"pages-$pid%05d.jsonl")
          val fs = p.getFileSystem(confBox.conf)
          fs.mkdirs(p.getParent)
          val out = fs.create(p, true)
          // materialize before close(): the returned iterator must not
          // lazily write to a closed stream
          val pages = try {
            it.map { case (eventId, html) =>
              val line = s"""{"eventId": ${jsonStr(eventId)}, "html": ${jsonStr(html)}}\n"""
              out.write(line.getBytes("UTF-8"))
              EventPage(eventId, s"$p#$eventId",
                html.getBytes("UTF-8").length.toLong)
            }.toArray
          } finally out.close()
          pages.iterator
        }
      }
    } else rendered.map { case (eventId, html) =>
      val dir = new org.apache.hadoop.fs.Path(
        outDir, s"Event_${sanitizeId(eventId)}_summary")
      val fs = dir.getFileSystem(confBox.conf)
      fs.mkdirs(dir)
      val p = new org.apache.hadoop.fs.Path(dir, "index.html")
      val out = fs.create(p, true)
      val bytes = html.getBytes("UTF-8")
      out.write(bytes)
      out.close()
      EventPage(eventId, p.toString, bytes.length.toLong)
    }
  }

  /** The packed-bundle reader: (eventId, html) rows from the
    * `pages-*.jsonl` files [[writeEventPages]] `packed = true` wrote —
    * a plain distributed NDJSON scan, so a downstream server or
    * archiver consumes bundles at the same parallelism they were
    * written with. */
  def readPackedPages(spark: SparkSession, outDir: String)
      : org.apache.spark.sql.DataFrame =
    spark.read
      .schema("eventId STRING, html STRING")
      .json(s"$outDir/pages-*.jsonl")

  /** Minimal JSON string literal (RFC 8259 escapes) for the bundle
    * lines — control chars, quote, and backslash. */
  private def jsonStr(s: String): String = {
    val b = new StringBuilder(s.length + 2)
    b.append('"')
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"')
    b.toString
  }

  /** One event's full page HTML from its (unsorted) datapoint group —
    * the single render path both output modes share. */
  private def renderGroupHtml(eventId: String, it: Iterator[FlatDp],
                              cfg: Spectrogram.Config,
                              skip: Set[String] = Set.empty): String = {
      val sorted = it.toArray.sortBy(d => (d.tsSec, d.seq))
      // a skipped rawData elides every derived section — also skip the
      // per-datapoint DFTs that would feed them (the dominant render
      // cost); a skipped hr only elides its chart (O(n) to compute)
      val skipAcc = skip("rawData")
      val dpMeans = if (skipAcc) Seq.empty[Double] else sorted.map { d =>
        if (d.rawData == null || d.rawData.isEmpty) -1.0
        else d.rawData.sum / d.rawData.length
      }.toSeq
      val hrs = if (skip("hr")) Seq.empty[Double] else sorted.map(_.hr).toSeq
      // the analysis series: the REAL osdAlg kernels per datapoint
      // (P4-P7), exactly what the reference's analysisLst carries.
      // ONE DFT per datapoint serves all five quantities (the FromDft
      // overloads) — the naive per-kernel form recomputed the O(n²)
      // transform 7× per datapoint.
      import graft.functions.Signal
      val analysis = sorted.map { d =>
        if (skipAcc || d.rawData == null || d.rawData.isEmpty) None
        else {
          val (re, im) = Signal.dft(d.rawData)
          val spec = Signal.specPowerFromDft(re, im)
          val roi = Signal.roiPowerFromDft(re, im)
          val ratio = if (spec > 900.0) 10.0 * roi / spec else 0.0
          val alarm = if (ratio > 57.0) 1.0 else 0.0
          // dataVisualiser series (viz1's kernels): the band total rides
          // the SAME transform; std/max/skew/kurt are O(n) time-domain
          val band = Signal.bandTotalFromDft(re, im, 25.0, 3.0, 8.0)
          Some((spec, roi, ratio, alarm,
            Array.tabulate(re.length / 2)(i => Signal.magnitudeSq(re(i), im(i))),
            band, Signal.std(d.rawData), d.rawData.max,
            Signal.skewness(d.rawData), Signal.kurtosis(d.rawData)))
        }
      }
      val specPowers = analysis.map(_.fold(-1.0)(_._1)).toSeq
      val roiPowers = analysis.map(_.fold(-1.0)(_._2)).toSeq
      val roiRatios = analysis.map(_.fold(-1.0)(_._3)).toSeq
      val alarms = analysis.map(_.fold(-1.0)(_._4)).toSeq
      val bandTotals = analysis.map(_.fold(-1.0)(_._6)).toSeq
      val stds = analysis.map(_.fold(-1.0)(_._7)).toSeq
      val maxes = analysis.map(_.fold(-1.0)(_._8)).toSeq
      val skews = analysis.map(_.fold(Double.NaN)(_._9)).toSeq
      val kurts = analysis.map(_.fold(Double.NaN)(_._10)).toSeq
      // mean |X_k|^2 spectrum over present datapoints (plotSpectrumGraph)
      val specs = analysis.flatten.map(_._5)
      val meanSpectrum =
        if (specs.isEmpty) Seq.empty[Double]
        else {
          val n = specs.map(_.length).min
          (0 until n).map(i => specs.map(_(i)).sum / specs.length)
        }
      val acc =
        if (skipAcc) Array.empty[Double]
        else sorted.flatMap(d =>
          if (d.rawData == null) Array.empty[Double] else d.rawData)
      val spec = Spectrogram.spectralHistory(acc, cfg)
      renderEventHtml(eventId,
        sorted.headOption.map(_.userId).getOrElse("-"),
        sorted.headOption.map(_.typeStr).getOrElse("-"),
        sorted.length, dpMeans, hrs, specPowers, roiPowers, roiRatios,
        alarms, meanSpectrum, spec, bandTotals, stds, maxes, skews, kurts,
        skip)
  }

  // ----------------------------------------------------- sharded index pages

  /** One index row (the reference's summary_index table row shape). */
  case class IdxRow(category: String, id: String, userId: String,
                    typeStr: String, subType: String, nDp: Long)

  /** One written index/user shard: which category, which page, where,
    * how many event rows (with the first/last row key — the shard-chain
    * ordering witness rpt3 gates), how many bytes. */
  case class IndexShard(category: String, shard: Long, path: String,
                        nRows: Long, nBytes: Long,
                        loId: String, hiId: String)

  val CategoryOrder: Seq[String] =
    Seq("tcSeizures", "allSeizures", "falseAlarms", "otherEvents")

  /** Contiguous zero-based ordinal of each row within its group, with
    * NO single-partition exchange: range-repartition on (group, order
    * key) + local sort, one bounded O(partitions × groups) count
    * collect, broadcast prefix offsets, per-partition local cumsum.
    * This is the distributed-rank shape Spark's global `Window.orderBy`
    * lacks. Emits (group, shardIdx, ordinalInShard, row); a shard holds
    * at most `pageSize` rows (it can straddle two range partitions, so
    * a groupByKey on (group, shard) follows — that shuffle moves only
    * tiny index-row metadata).
    *
    * Returns the assigned dataset plus per-group totals (bounded:
    * one entry per group — four categories, or one "" group for the
    * user pages). */
  private def shardAssign[T](ds: Dataset[T], groupOf: T => String,
      rangeCols: Seq[Column], pageSize: Int)(implicit te: Encoder[T])
      : (Dataset[(String, Long, Long, T)], Map[String, Long],
         org.apache.spark.broadcast.Broadcast[Map[(Int, String), Long]]) = {
    require(pageSize > 0, s"pageSize must be positive, got $pageSize")
    val spark = ds.sparkSession
    val ranged = Scoped.current.persist(ds.repartitionByRange(rangeCols: _*)
      .sortWithinPartitions(rangeCols: _*))
    // bounded collect: (partition, group) counts, O(partitions + groups)
    // — the shared two-phase-rank core ([[graft.operators.TwoPhaseRank]])
    val (offsets, totals) =
      graft.operators.TwoPhaseRank.prefixOffsets[T](ranged, groupOf, _ => 1L)
    val bOff = spark.sparkContext.broadcast(offsets)
    implicit val enc: Encoder[(String, Long, Long, T)] =
      Encoders.tuple(Encoders.STRING, Encoders.scalaLong, Encoders.scalaLong, te)
    val assigned = spark.createDataset(
      ranged.rdd.mapPartitionsWithIndex { (pid, it) =>
        val seen = scala.collection.mutable.HashMap.empty[String, Long]
        it.map { r =>
          val g = groupOf(r)
          val k = seen.getOrElse(g, 0L)
          seen.update(g, k + 1L)
          val ord = bOff.value((pid, g)) + k
          (g, ord / pageSize, ord % pageSize, r)
        }
      })
    // the persisted range partition is what makes the count job and the
    // assignment job see identical partition contents/order; it pins
    // into the query scope. The caller unpersists the offset broadcast
    // after forcing the downstream write; unpersist (not destroy) keeps
    // a cache-evicted recompute legal — Spark re-ships an unpersisted
    // broadcast lazily
    (assigned, totals.toMap, bOff)
  }

  private def pageShell(title: String, nav: String, body: String): String =
    s"""<!DOCTYPE html>
       |<html><head><meta charset="utf-8"><title>${esc(title)}</title>
       |<style>body{font-family:sans-serif;margin:2em}table{border-collapse:collapse}
       |td,th{border:1px solid #999;padding:4px 10px}nav a{margin-right:1em}</style>
       |</head><body>
       |$nav
       |$body
       |</body></html>
       |""".stripMargin

  private def navLinks(cat: String, shard: Long, nShards: Long,
                       fileOf: (String, Long) => String): String = {
    val prev = if (shard > 0) s"""<a href="${fileOf(cat, shard - 1)}">&laquo; prev</a>""" else ""
    val next = if (shard < nShards - 1) s"""<a href="${fileOf(cat, shard + 1)}">next &raquo;</a>""" else ""
    s"""<nav><a href="index.html">Index</a>$prev$next
       |<span>page ${shard + 1} of ${math.max(nShards, 1)}</span></nav>""".stripMargin
  }

  def indexShardFile(cat: String, shard: Long): String =
    s"index_${cat}_$shard.html"
  def userShardFile(shard: Long): String = s"users_$shard.html"

  /** One category-index shard: at most pageSize event rows, id-ordered,
    * each linking to its (sanitized-path) event page. */
  def renderIndexShardHtml(cat: String, shard: Long, nShards: Long,
                           total: Long, rows: Seq[IdxRow]): String = {
    val body =
      s"""<h1>Database Summary — ${esc(cat)} ($total events)</h1>
         |<table><tr><th>Event</th><th>User</th><th>Type</th><th>SubType</th>
         |<th>Source</th><th>Datapoints</th></tr>
         |${rows.map { r =>
             s"""<tr><td><a href="Event_${sanitizeId(r.id)}_summary/index.html">${esc(r.id)}</a></td>""" +
               s"<td>${esc(r.userId)}</td><td>${esc(r.typeStr)}</td><td>${esc(r.subType)}</td>" +
               s"<td>-</td><td>${r.nDp}</td></tr>"
           }.mkString("\n")}
         |</table>""".stripMargin
    pageShell(s"OSDB Summary — $cat", navLinks(cat, shard, nShards, (c, s) => indexShardFile(c, s)), body)
  }

  /** One user-summary shard: whole users (category × counts tables),
    * userId-ordered. */
  def renderUserShardHtml(shard: Long, nShards: Long,
                          users: Seq[(String, Seq[(String, Long, Long)])]): String = {
    val body =
      s"""<h1>User Analysis Summary</h1>
         |${users.map { case (u, cats) =>
             s"""<h2>User ${esc(u)}</h2>
                |<table><tr><th>Category</th><th>Events</th><th>Datapoints</th></tr>
                |${cats.sortBy(_._1).map { case (cat, n, dp) =>
                    s"<tr><td>${esc(cat)}</td><td>$n</td><td>$dp</td></tr>"
                  }.mkString("\n")}
                |</table>""".stripMargin
           }.mkString("\n")}""".stripMargin
    pageShell("OSDB User Summary", navLinks("", shard, nShards, (_, s) => userShardFile(s)), body)
  }

  /** Executor-rendered category index shards. Each (category, shard)
    * group — at most `pageSize` rows — renders and writes
    * `index_<cat>_<n>.html` with prev/next links. The write is forced
    * exactly once here (persist + count — a second action on the
    * returned metadata reads the cache, not the renderer); the persists
    * pin into the query scope. Also returns per-category totals
    * (bounded, 4 entries) for the TOC. */
  def writeIndexShards(idx: Dataset[IdxRow], outDir: String, pageSize: Int)
      : (Dataset[IndexShard], Map[String, Long]) = {
    val spark = idx.sparkSession
    import spark.implicits._
    val confBox = HadoopConfBox.fromSession(spark)
    val (assigned, totals, bOff) =
      shardAssign[IdxRow](idx, _.category, Seq(col("category"), col("id")), pageSize)
    val nShards: Map[String, Long] =
      totals.map { case (c, t) => c -> ((t + pageSize - 1) / pageSize) }
    val shards = Scoped.current.persist(assigned
      .groupByKey { case (cat, shard, _, _) => (cat, shard) }
      .mapGroups { (key, it) =>
        val (cat, shard) = key
        val rows = it.toArray.sortBy(_._3).map(_._4)
        val html = renderIndexShardHtml(cat, shard,
          nShards.getOrElse(cat, 0L), totals.getOrElse(cat, 0L), rows.toSeq)
        val p = new org.apache.hadoop.fs.Path(outDir, indexShardFile(cat, shard))
        val fs = p.getFileSystem(confBox.conf)
        val out = fs.create(p, true)
        val bytes = html.getBytes("UTF-8")
        out.write(bytes); out.close()
        IndexShard(cat, shard, p.toString, rows.length.toLong,
          bytes.length.toLong, rows.head.id, rows.last.id)
      })
    shards.count()
    bOff.unpersist(false)
    (shards, totals)
  }

  /** Executor-rendered user-summary shards over the (userId, category)
    * rollup: one row per user (≤4 category entries each), sharded by
    * userId range — `users_<n>.html`, at most `pageSize` users per page.
    * Its persists pin into the query scope. */
  def writeUserShards(idx: Dataset[IdxRow], outDir: String, pageSize: Int)
      : (Dataset[IndexShard], Long) = {
    val spark = idx.sparkSession
    import spark.implicits._
    val confBox = HadoopConfBox.fromSession(spark)
    val perUser: Dataset[(String, Seq[(String, Long, Long)])] = idx
      .groupByKey(_.userId)
      .mapGroups { (u, it) =>
        // incremental fold, NOT toSeq.groupBy: a group here is ONE
        // USER'S whole index-row stream — a heavy user is unbounded,
        // and materializing it per task is the driver-collect bug in
        // task form. State is O(categories) = 4 counters.
        val n = scala.collection.mutable.LinkedHashMap.empty[String, (Long, Long)]
        it.foreach { r =>
          val (c0, d0) = n.getOrElse(r.category, (0L, 0L))
          n.update(r.category, (c0 + 1L, d0 + r.nDp))
        }
        (u, n.iterator.map { case (c, (k, dp)) => (c, k, dp) }.toSeq)
      }
    val (assigned, totals, bOff) =
      shardAssign(perUser, (_: (String, Seq[(String, Long, Long)])) => "",
        Seq(col("_1")), pageSize)
    val nUsers = totals.getOrElse("", 0L)
    val nShards = (nUsers + pageSize - 1) / pageSize
    val shards = Scoped.current.persist(assigned
      .groupByKey { case (_, shard, _, _) => shard }
      .mapGroups { (shard, it) =>
        val users = it.toArray.sortBy(_._3).map(_._4)
        val html = renderUserShardHtml(shard, nShards, users.toSeq)
        val p = new org.apache.hadoop.fs.Path(outDir, userShardFile(shard))
        val fs = p.getFileSystem(confBox.conf)
        val out = fs.create(p, true)
        val bytes = html.getBytes("UTF-8")
        out.write(bytes); out.close()
        IndexShard("users", shard, p.toString, users.length.toLong,
          bytes.length.toLong, users.head._1, users.last._1)
      })
    shards.count()
    bOff.unpersist(false)
    (shards, nShards)
  }

  /** The bounded TOC the driver writes: one row per category (name,
    * total, link to shard 0) plus the user-summary link. O(1) driver
    * memory regardless of event count. */
  def renderTocHtml(totals: Map[String, Long], nUserShards: Long): String = {
    val rows = CategoryOrder.map { cat =>
      val t = totals.getOrElse(cat, 0L)
      val cell =
        if (t > 0) s"""<a href="${indexShardFile(cat, 0L)}">${esc(cat)}</a>"""
        else esc(cat)
      s"<tr><td>$cell</td><td>$t</td></tr>"
    }
    val usersLink =
      if (nUserShards > 0)
        s"""<p><a href="${userShardFile(0L)}">Per-user summary</a></p>"""
      else "<p>Per-user summary: no users</p>"
    pageShell("OSDB Summary", "",
      s"""<h1>Database Summary</h1>
         |$usersLink
         |<table><tr><th>Category</th><th>Events</th></tr>
         |${rows.mkString("\n")}</table>""".stripMargin)
  }

  /** End-to-end report: executor-rendered event pages + executor-
    * rendered index/user shards + the driver's bounded category TOC.
    * `nested` supplies the index metadata (the cheap shape — pass
    * arrays=false fixtures / projected scans); `dps` supplies the
    * per-event series. The event pages, the index shards and the user
    * shards write disjoint files and none reads another's output, so
    * they render in one [[Scoped.overlap]] round; the TOC is written
    * after all three, so it never links a page or shard that is not
    * there. Returns the page-metadata table (persisted —
    * the side-effecting render is forced exactly once here; re-running
    * an action on the result reads the cache, not the renderer). The
    * persist pins into the query scope ([[Scoped.current]]) and is
    * released with it; the index and shard tables are released before
    * this returns. */
  def writeReport(nested: DataFrame, dps: Dataset[FlatDp], outDir: String,
                  pageSize: Int = 1000,
                  skip: Set[String] = Set.empty): DataFrame = {
    val spark = nested.sparkSession
    import spark.implicits._
    // FORCE the page writes through a persist: the side effect lives in
    // a lazy mapGroups — without a one-time action an index could
    // publish links to pages that were never rendered, and a caller
    // running two actions on the result would render every page twice.
    // count() is an O(1)-to-the-driver aggregate (the round-9 form
    // collected the whole metadata table here).
    val pages = Scoped.current.persist(writeEventPages(dps, outDir, skip = skip)
      .toDF("eventId", "path", "nBytes"))
    // the index, range and shard tables live in an inner scope: the
    // shard writers pin into it (overlap tasks inherit it), and it
    // frees them before the TOC is written
    val (totals, nUserShards) = Scoped.query {
      val idx = Scoped.current.persist(indexSummary(nested)
        .select(col("category"), col("id"), col("userId"),
          col("type").as("typeStr"), col("subType"), col("n_dp").as("nDp"))
        .as[IdxRow])
      val Seq(_, (idxShards: Dataset[IndexShard] @unchecked,
                  totals: Map[String, Long] @unchecked),
              (_, nUserShards: Long)) = Scoped.overlap(Seq[() => Any](
        () => pages.count(),
        () => writeIndexShards(idx, outDir, pageSize),
        () => writeUserShards(idx, outDir, pageSize)))
      // verification is a distributed aggregate over the (persisted)
      // shard metadata — shard-count + row-sum — never a localized Seq
      val idxStats = idxShards.agg(count(lit(1)), sum(col("nRows"))).head()
      val written = idxStats.getLong(0)
      val rowsOut = if (idxStats.isNullAt(1)) 0L else idxStats.getLong(1)
      val expected = totals.values.sum
      require(rowsOut == expected,
        s"index shards carry $rowsOut rows, expected $expected across $written shards")
      (totals, nUserShards)
    }
    val root = new org.apache.hadoop.fs.Path(outDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(root)
    val out = fs.create(new org.apache.hadoop.fs.Path(root, "index.html"), true)
    out.write(renderTocHtml(totals, nUserShards).getBytes("UTF-8"))
    out.close()
    pages
  }
}
