package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.config.DatasetSpec
import graft.dates.PeriodDates

/**
 * Wide station-matrix source: rows are stations, columns are an ID column,
 * optional metadata columns, and one column per time step (SURVEY §1.1).
 *
 * Unifies the reference's two classification strategies:
 *  - by NAME (`driver.py:44-76`): metadata columns recognized via the
 *    translation table, value columns via the header-date grammar;
 *  - by POSITION (`tapis_direct_driver.py:119-131`): `id_col` +
 *    `data_col_start` indices.
 *
 * All cells are read as strings: the reference pins the station ID to string
 * (`driver.py:141`, dtype SKN=str) and treats the nodata sentinel by *exact
 * string equality* before any numeric parse (`driver.py:162`,
 * `tapis_direct_driver.py:143-145`) — Spark's permissive CSV inference would
 * break both, so the schema is forced to all-string here and casts happen
 * downstream (SURVEY §7.4).
 */
object WideMatrix {

  /** Canonical metadata renames — `driver.py:9-23` METADATA_COL_TRANSLATIONS. */
  val MetadataColTranslations: Seq[(String, String)] = Seq(
    "SKN" -> "skn",
    "Station.Name" -> "name",
    "Observer" -> "observer",
    "Network" -> "network",
    "Island" -> "island",
    "ELEV.m." -> "elevation_m",
    "LAT" -> "lat",
    "LON" -> "lng",
    "NCEI.id" -> "ncei_id",
    "NWS.id" -> "nws_id",
    "NESDIS.id" -> "nesdis_id",
    "SCAN.id" -> "scan_id",
    "SMART_NODE_RF.id" -> "smart_node_rf_id")

  private val translationMap = MetadataColTranslations.toMap

  /** Headers like `Station.Name` / `X2022.03.01` contain dots — backtick-
    * quote so `col` treats them as flat names, not nested-field paths. */
  private def qcol(name: String): Column =
    if (name.contains(".")) col(s"`$name`") else col(name)

  /** Classified column roles computed from the header (driver-side schema step). */
  final case class Classified(
      idCol: String,
      metadataCols: Seq[(String, String)], // original -> canonical
      valueCols: Seq[(String, String)]) // original -> ISO value string

  /**
   * Read a wide CSV with header, every column string-typed. Equivalent of
   * S1/S2/S3 (`driver.py:141`; `tapis_direct_driver.py:91-108`): local
   * paths, any Hadoop-resolvable URI, and `http(s)://` URLs — remote files
   * spool once through `RemoteFetch` staging (the reference streams the URL
   * body into the same row loop it feeds local files to) and then both the
   * header probe and the data read hit the spooled copy. Header row is the
   * schema.
   */
  def readCsv(spark: SparkSession, path: String,
      stagingDir: Option[String] = None): DataFrame = {
    val resolved = RemoteFetch.resolve(spark, path, stagingDir)
    // Probe the header once to force an all-string schema (no inference --
    // inference would eat "NA" and numeric-looking station IDs).
    val header = spark.read.option("header", "true").csv(resolved).schema.fieldNames
    val schema = StructType(header.map(StructField(_, StringType, nullable = true)))
    spark.read
      .option("header", "true")
      // The reference (`keep_default_na=False`, `driver.py:141`) keeps empty
      // cells literal and float("") RAISES (`tapis_direct_driver.py:145`).
      // Spark's parser nulls UNQUOTED empties unconditionally -- documented
      // divergence: those fall into the P6 skip path. Quoted empty strings
      // CAN be preserved: the default nullValue="" would null them too, so
      // pin nullValue to a never-occurring sentinel; strict cast then
      // raises on "" exactly like the reference.
      .option("nullValue", "\u0000")
      .schema(schema)
      .csv(resolved)
  }

  /**
   * Classification by NAME (P1; `driver.py:44-76`): a column is metadata iff
   * its name hits the translation table; a value column iff it matches the
   * period's date grammar AND its date falls in the inclusive
   * `[start_date, end_date]` range (P4); anything else is dropped.
   */
  def classifyByName(columns: Seq[String], spec: DatasetSpec): Classified = {
    val meta = columns.collect {
      case c if translationMap.contains(c) => c -> translationMap(c)
    }
    val values = columns.flatMap { c =>
      PeriodDates.headerToDate(c, spec.period).collect {
        case d if PeriodDates.inRange(d, spec.startDate, spec.endDate) =>
          c -> PeriodDates.dateToValue(d, spec.period)
      }
    }
    Classified(idCol = "skn", metadataCols = meta, valueCols = values)
  }

  /**
   * Classification by POSITION (P3; `tapis_direct_driver.py:119-131`):
   * `id_col` names the station column; data columns start at
   * `data_col_start`; among those, in-range date headers become values.
   */
  def classifyByPosition(columns: Seq[String], spec: DatasetSpec): Classified = {
    val idCol = columns(spec.idCol)
    val values = columns.drop(spec.dataColStart).flatMap { c =>
      PeriodDates.headerToDate(c, spec.period).collect {
        case d if PeriodDates.inRange(d, spec.startDate, spec.endDate) =>
          c -> PeriodDates.dateToValue(d, spec.period)
      }
    }
    Classified(idCol = idCol, metadataCols = Nil, valueCols = values)
  }

  /**
   * Metadata projection (P1/P2/P9/P11): select + rename the recognized
   * metadata columns, strip nodata cells to null (sparse records,
   * `driver.py:151`), inject `id_field`/`station_group` constants
   * (`driver.py:146-147`).
   */
  def metadata(wide: DataFrame, spec: DatasetSpec, location: String = "hawaii"): DataFrame = {
    val cls = classifyByName(wide.columns.toSeq, spec)
    val projected: Seq[Column] = cls.metadataCols.map { case (orig, canon) =>
      when(qcol(orig) === lit(spec.nodata), lit(null)).otherwise(qcol(orig)).as(canon)
    }
    wide
      .select(projected: _*)
      .withColumn("id_field", lit("skn"))
      .withColumn("station_group", concat(lit(location), lit("_climate_primary")))
  }

  /**
   * Values projection (wide, still pivoted): station-ID column renamed to
   * `skn`, value columns renamed to their ISO date strings — ready for
   * unpivot. Catalyst prunes everything else out of the scan.
   */
  def valuesWide(wide: DataFrame, spec: DatasetSpec, byPosition: Boolean = false): DataFrame = {
    val cls =
      if (byPosition) classifyByPosition(wide.columns.toSeq, spec)
      else classifyByName(wide.columns.toSeq, spec)
    val cols = qcol(cls.idCol).as("skn") +:
      cls.valueCols.map { case (orig, iso) => qcol(orig).as(iso) }
    wide.select(cols: _*)
  }
}
