package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.time.LocalDate
import java.time.format.DateTimeFormatter
import java.util.Locale

import scala.collection.mutable

/** Deterministic 64-bit mixing (splitmix64 finaliser). Every generated cell,
  * revision and request is a pure function of the seed and its coordinates,
  * so the same seed always yields the same inputs. */
object Mix {
  def apply(a: Long, b: Long = 0L, c: Long = 0L, d: Long = 0L): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L + c
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL + d
    z = (z ^ (z >>> 31)) * 0x9E3779B97F4A7C15L
    z ^ (z >>> 29)
  }
  /** Uniform in [0, n). */
  def below(n: Int, a: Long, b: Long = 0L, c: Long = 0L, d: Long = 0L): Int =
    java.lang.Long.remainderUnsigned(apply(a, b, c, d), n.toLong).toInt
}

/** What one ingest of a generated file must report. */
final case class Expect(created: Long, replaced: Long, unchanged: Long) {
  def cells: Long = created + replaced + unchanged
}

/**
 * Seeded wide station-matrix generator and the model of the store it feeds.
 *
 * A file is `nStations` rows of 13 metadata columns plus one `X%Y.%m.%d`
 * column per day. A cell is the nodata sentinel with probability
 * `nodataPer1024 / 1024`, fixed per (station, day), otherwise a two-decimal
 * value that depends on the cell's revision number, so a revised cell always
 * differs from the stored one. The model records, per stored day, the
 * revision each station holds (-1 = no row), which is all it needs to
 * predict the merge statistics of the next ingest and the row counts and
 * values of every read. The program under test sees only the files.
 */
final class StationModel(val nStations: Int, val worldSeed: Long, nodataPer1024: Int = 100) {
  import StationModel._

  private val store = mutable.HashMap.empty[Long, Array[Int]]

  def skn(i: Int): String = (100000 + i).toString
  def stationOf(skn: String): Int = skn.toInt - 100000

  def isNodata(i: Int, day: Long): Boolean = Mix.below(1024, worldSeed, i, day, 1) < nodataPer1024

  /** Cell text for revision `rev`: base + rev/2, so revisions never collide. */
  def cellText(i: Int, day: Long, rev: Int): String = {
    val cents = Mix.below(20000, worldSeed, i, day, 2) + 50L * rev
    val frac = cents % 100
    s"${cents / 100}.${if (frac < 10) "0" else ""}$frac"
  }

  def value(i: Int, day: Long, rev: Int): Double = cellText(i, day, rev).toDouble

  /** Revision the store holds for (station, day), or -1 when it has no row. */
  def storedRev(i: Int, day: Long): Int = store.get(day).fold(-1)(_(i))

  def storedDays: Seq[Long] = store.keys.toSeq.sorted

  def rowsOnDay(day: Long): Long = store.get(day).fold(0L)(_.count(_ >= 0).toLong)

  def rowsOfStation(i: Int): Long = store.valuesIterator.count(_(i) >= 0).toLong

  def totalRows: Long = store.valuesIterator.map(_.count(_ >= 0).toLong).sum

  /**
   * Write a wide CSV covering `fileDays` whose cells carry revision
   * `rev(i, day)`, and return the statistics an ingest restricted to
   * `window` must report against the current model. Call [[commit]] with
   * the same arguments once the ingest has run.
   */
  def writeFile(path: String, fileDays: Seq[LocalDate], window: Seq[LocalDate],
      rev: (Int, Long) => Int): Expect = {
    val days = fileDays.map(_.toEpochDay)
    val out = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(new File(path)), StandardCharsets.UTF_8), 1 << 16)
    try {
      out.write((MetadataHeader ++ fileDays.map(d => d.format(HeaderFmt))).mkString(","))
      out.write('\n')
      val sb = new java.lang.StringBuilder(512)
      for (i <- 0 until nStations) {
        sb.setLength(0)
        metadataCells(i).foreach(c => sb.append(c).append(','))
        var k = 0
        while (k < days.length) {
          val d = days(k)
          sb.append(if (isNodata(i, d)) Nodata else cellText(i, d, rev(i, d)))
          if (k < days.length - 1) sb.append(',')
          k += 1
        }
        sb.append('\n')
        out.write(sb.toString)
      }
    } finally out.close()
    expect(window, rev)
  }

  def expect(window: Seq[LocalDate], rev: (Int, Long) => Int): Expect = {
    var created, replaced, unchanged = 0L
    for (d <- window.map(_.toEpochDay); i <- 0 until nStations if !isNodata(i, d)) {
      val s = storedRev(i, d)
      if (s < 0) created += 1
      else if (s == rev(i, d)) unchanged += 1
      else replaced += 1
    }
    Expect(created, replaced, unchanged)
  }

  def commit(window: Seq[LocalDate], rev: (Int, Long) => Int): Unit =
    for (d <- window.map(_.toEpochDay)) {
      val a = store.getOrElseUpdate(d, Array.fill(nStations)(-1))
      for (i <- 0 until nStations if !isNodata(i, d)) {
        if (a(i) < 0) uuids += uuidOf(i, d)
        a(i) = rev(i, d)
      }
    }

  /** Every stored document id, in order. */
  val uuids = mutable.TreeSet.empty[String]

  /** The store's document id of a cell: the md5 of its compound key
    * (datatype, period, date, fill, station_id), unit-separator joined. */
  def uuidOf(i: Int, day: Long): String = {
    val key = Seq(Datatype, "day", LocalDate.ofEpochDay(day).format(IsoFmt), Fill, skn(i)).mkString("\u0001")
    val md = java.security.MessageDigest.getInstance("MD5").digest(key.getBytes(StandardCharsets.UTF_8))
    md.map(b => f"${b & 0xff}%02x").mkString
  }

  /** Revision of (station, day) in a file that re-sends the stored state
    * and revises about `per1000`/1000 of the stored cells (salted by `salt`). */
  def revised(per1000: Int, salt: Long)(i: Int, day: Long): Int = {
    val s = storedRev(i, day)
    if (s < 0) 0 else if (Mix.below(1000, worldSeed, salt, i, day) < per1000) s + 1 else s
  }

  def resent(i: Int, day: Long): Int = math.max(storedRev(i, day), 0)

  private def metadataCells(i: Int): Seq[String] = {
    def opt(tag: Int, v: => String) = if (Mix.below(8, worldSeed, i, tag) == 0) Nodata else v
    Seq(
      skn(i),
      s"Station $i",
      opt(3, s"Observer ${Mix.below(50, worldSeed, i, 4)}"),
      Networks(Mix.below(Networks.length, worldSeed, i, 5)),
      Islands(Mix.below(Islands.length, worldSeed, i, 6)),
      (Mix.below(3000, worldSeed, i, 7)).toString,
      "%.4f".formatLocal(Locale.ROOT, 18.9 + Mix.below(30000, worldSeed, i, 8) / 1e4),
      "%.4f".formatLocal(Locale.ROOT, -160.2 + Mix.below(50000, worldSeed, i, 9) / 1e4),
      opt(10, s"USC00${510000 + i}"),
      opt(11, s"NWS$i"),
      opt(12, s"NES$i"),
      opt(13, s"SCAN$i"),
      opt(14, s"SN$i"))
  }
}

object StationModel {
  val Nodata = "NA"
  val Datatype = "rainfall"
  val Fill = "partial"
  val HeaderFmt: DateTimeFormatter = DateTimeFormatter.ofPattern("'X'yyyy.MM.dd")
  val IsoFmt: DateTimeFormatter = DateTimeFormatter.ISO_LOCAL_DATE
  val MetadataHeader: Seq[String] = Seq("SKN", "Station.Name", "Observer", "Network",
    "Island", "ELEV.m.", "LAT", "LON", "NCEI.id", "NWS.id", "NESDIS.id", "SCAN.id",
    "SMART_NODE_RF.id")
  private val Networks = Array("HydroNet", "NWS", "RAWS", "SCAN", "USGS", "CoCoRaHS")
  private val Islands = Array("BI", "MA", "OA", "KA", "MO", "LA")

  def monthDays(d: LocalDate): Seq[LocalDate] =
    (1 to d.lengthOfMonth).map(d.withDayOfMonth)

  def span(first: LocalDate, n: Int): Seq[LocalDate] = (0 until n).map(k => first.plusDays(k.toLong))

  /** The dataset block of an ingest config for one file and window. */
  def configJson(file: String, window: Option[(LocalDate, LocalDate)]): String = {
    val w = window.fold("") { case (a, b) =>
      s""""start_date": "${a.format(IsoFmt)}", "end_date": "${b.format(IsoFmt)}","""
    }
    s"""{"additional_properties": {"location": "hawaii"},
       | "data": [{"files": ["$file"], "datatype": "$Datatype", "period": "day",
       |  "fill": "$Fill", $w "nodata": "$Nodata"}]}""".stripMargin
  }
}

/** Seeded synthetic inputs for the curation jobs: a document table shaped
  * like the engine's `documents` fixture and an embedding table shaped like
  * its `embeddings` fixture. */
object CorpusGen {
  private val Vocab = ("spark batch line column order small sort fast value scan hash slow " +
    "group agg filter query big key window row part table stream merge data join " +
    "vector customer the a of and to in is station rain island gauge daily").split(' ')
  private val Langs = Array("en", "en", "en", "de", "es", "fr", "zh")

  /** (doc_id, text, lang, source, n_chars); about 2% exact duplicates and
    * 3% near duplicates (one word changed) of earlier documents. */
  def documents(n: Int, seed: Long): Seq[(Long, String, String, String, Long)] = {
    val texts = new Array[String](n)
    (0 until n).map { i =>
      val kind = Mix.below(100, seed, i, 1)
      val text =
        if (i > 10 && kind < 2) texts(Mix.below(i, seed, i, 2))
        else if (i > 10 && kind < 5) {
          val w = texts(Mix.below(i, seed, i, 3)).split(' ')
          w(Mix.below(w.length, seed, i, 4)) = Vocab(Mix.below(Vocab.length, seed, i, 5))
          w.mkString(" ")
        } else {
          val len = 10 + Mix.below(91, seed, i, 6)
          (0 until len).map(k => Vocab(Mix.below(Vocab.length, seed, i, 7 + k))).mkString(" ")
        }
      texts(i) = text
      (i.toLong, text, Langs(Mix.below(Langs.length, seed, i, 8)),
        s"src${Mix.below(20, seed, i, 9)}", text.length.toLong)
    }
  }

  /** (vec_id, embedding, label): 64-dim unit vectors around 10 seeded
    * cluster centres; one in ten is a near copy of an earlier vector. */
  def embeddings(n: Int, seed: Long, dim: Int = 64): Seq[(Long, Array[Float], Int)] = {
    def gauss(a: Long, b: Long, c: Long): Double = {
      val u1 = (Mix.below(1 << 30, seed, a, b, c) + 1.0) / ((1 << 30) + 1.0)
      val u2 = Mix.below(1 << 30, seed, a, b, c + 7919) / (1 << 30).toDouble
      math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * u2)
    }
    val centres = Array.tabulate(10, dim)((c, k) => gauss(c, k, 1))
    val out = new Array[(Long, Array[Float], Int)](n)
    for (i <- 0 until n) {
      // one in ten is a near copy of an earlier vector: the dedup stage's work
      val v =
        if (i > 20 && Mix.below(10, seed, i, 4) == 0) {
          val (_, src, label) = out(Mix.below(i, seed, i, 5))
          (Array.tabulate(dim)(k => src(k) + 0.02 * gauss(i + 100, k, 6)), label)
        } else {
          val label = Mix.below(10, seed, i, 2)
          (Array.tabulate(dim)(k => centres(label)(k) + 0.8 * gauss(i + 100, k, 3)), label)
        }
      val norm = math.sqrt(v._1.map(x => x * x).sum)
      out(i) = (i.toLong, v._1.map(x => (x / norm).toFloat), v._2)
    }
    out.toSeq
  }
}
