package graft.io

import graft.api.GeoDataFrame
import graft.functions.GeoFunctions
import graft.geom.Wkb
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.locationtech.jts.geom.Geometry

/** PostGIS interchange (reference `io/sql.py:126-463`): JDBC plumbing plus
  * the hex-EWKB geometry codec PostGIS speaks.
  *
  * The codec is pure JVM and fully unit-tested; the JDBC paths are thin
  * `spark.read.jdbc` / `df.write.jdbc` wrappers, exercised end-to-end
  * (write → read round-trip incl. null geometries and SRID) against an
  * embedded Derby database — no live PostGIS ships in this environment,
  * but the Spark-side plumbing (URL/properties, dialect mapping, batching)
  * is identical.
  *
  * EWKB = WKB with PostGIS' SRID flag (0x20000000) in the type word and a
  * 4-byte SRID; JTS' WKBReader accepts it natively, and WKBWriter emits it
  * when `includeSRID` is set.
  */
object PostgisIO {

  // ------------------------------------------------------------- the codec

  /** Decode a PostGIS hex-EWKB string to the engine's WKB (ref
    * `io/sql.py:46-125` `_df_to_geodf`'s shapely round-trip). */
  def decodeHexEwkb(hex: String): Array[Byte] = Wkb.write(Wkb.read(hexToBytes(hex)))

  /** SRID embedded in a hex-EWKB string (0 when absent). */
  def ewkbSrid(hex: String): Int = {
    val b = hexToBytes(hex)
    val bb = java.nio.ByteBuffer.wrap(b)
    bb.order(if (b(0) == 1) java.nio.ByteOrder.LITTLE_ENDIAN else java.nio.ByteOrder.BIG_ENDIAN)
    if ((bb.getInt(1) & 0x20000000) != 0) bb.getInt(5) else 0
  }

  /** Encode a geometry as hex-EWKB with the given SRID — what `to_postgis`
    * writes (ref `io/sql.py:300-315`). */
  def encodeHexEwkb(g: Geometry, srid: Int): String = {
    g.setSRID(srid)
    val dim = if (Wkb.hasZ(g)) 3 else 2
    // PostGIS canonical form is little-endian (NDR)
    val w = new org.locationtech.jts.io.WKBWriter(dim,
      org.locationtech.jts.io.ByteOrderValues.LITTLE_ENDIAN, true)
    bytesToHex(w.write(g))
  }

  def decode_hex_ewkb(c: Column): Column = GeoFunctions.call("ewkb_decode_hex", c)
  def ewkb_srid(c: Column): Column = GeoFunctions.call("ewkb_srid", c)
  def encode_hex_ewkb(c: Column, srid: Column): Column = GeoFunctions.call("ewkb_encode_hex", c, srid)

  // ------------------------------------------------------------ JDBC paths

  /** `read_postgis` (ref io/sql.py:126-211): run `query` over JDBC, decode
    * `geomCol` from hex-EWKB (PostGIS' text representation of geometry when
    * selected without a cast) into the engine's WKB. */
  def readPostgis(spark: SparkSession, url: String, query: String,
                  properties: java.util.Properties = new java.util.Properties(),
                  geomCol: String = "geom", crs: Option[String] = None): GeoDataFrame = {
    // alias must not start with '_' — legal in PostgreSQL but rejected by
    // stricter engines (caught against embedded Derby)
    val df = spark.read.jdbc(url, s"($query) AS graft_subq", properties)
    val decoded = df.withColumn("geometry", decode_hex_ewkb(col(geomCol).cast("string")))
      .drop(geomCol)
    GeoDataFrame(decoded, "geometry", crs.map(c => Map("geometry" -> c)).getOrElse(Map.empty))
  }

  /** `to_postgis` (ref io/sql.py:343-463): write with the geometry encoded
    * as hex-EWKB. Into a pre-typed `geometry(...)` column (the
    * [[toPostgisWithDdl]] path) PostgreSQL accepts the hex string through
    * its implicit text→geometry cast — but ONLY when the parameter is sent
    * untyped, which [[withPgStringtype]] guarantees. Into an untyped table
    * the column lands as varchar; convert afterwards with
    * `ALTER TABLE ... USING ST_GeomFromEWKB(decode(geom,'hex'))`. */
  def toPostgis(gdf: GeoDataFrame, url: String, table: String, srid: Int,
                properties: java.util.Properties = new java.util.Properties(),
                mode: String = "error"): Unit = {
    val out = gdf.df.withColumn(gdf.geometryCol,
      encode_hex_ewkb(col(gdf.geometryCol), lit(srid)))
    out.write.mode(mode).jdbc(url, table, withPgStringtype(url, properties))
  }

  /** pgJDBC binds String parameters as `varchar`, and PostgreSQL has no
    * implicit varchar→geometry cast — so appending hex-EWKB into a
    * `geometry(Type,srid)` column fails with "column is of type geometry
    * but expression is of type character varying" unless the connection
    * sets `stringtype=unspecified` (strings then bind as unknown-typed
    * literals and the server's text→geometry cast applies). Defaulted for
    * PostgreSQL URLs; a caller-provided value always wins; non-PG URLs
    * (e.g. the Derby test harness) are untouched. */
  private[graft] def withPgStringtype(url: String,
                                      properties: java.util.Properties): java.util.Properties = {
    if (!url.startsWith("jdbc:postgresql")) properties
    else {
      val p = new java.util.Properties()
      // stringPropertyNames walks the defaults chain of a Properties built
      // with `new Properties(defaults)`; putAll would copy own entries only
      // and silently drop a user/password stored as defaults
      properties.stringPropertyNames().forEach(k => p.setProperty(k, properties.getProperty(k)))
      if (!p.containsKey("stringtype")) p.setProperty("stringtype", "unspecified")
      p
    }
  }

  // ----------------------------------------------------- DDL / type mapping

  /** PostgreSQL column type for a Spark field (ref `io/sql.py:343-463` —
    * the reference delegates typing to SQLAlchemy's postgres dialect; this
    * is the mapping that surfaces for the frame types the engine writes). */
  private[io] def pgType(dt: org.apache.spark.sql.types.DataType): String = {
    import org.apache.spark.sql.types._
    dt match {
      case LongType             => "bigint"
      case IntegerType          => "integer"
      case ShortType | ByteType => "smallint"
      case DoubleType           => "double precision"
      case FloatType            => "real"
      case BooleanType          => "boolean"
      case DateType             => "date"
      case _: TimestampType     => "timestamp with time zone"
      case d: DecimalType       => s"numeric(${d.precision},${d.scale})"
      case BinaryType           => "bytea"
      case _                    => "text"
    }
  }

  /** Derby spelling of the same columns — lets the create-then-append write
    * path run end-to-end in-container (no PostGIS server ships here). */
  private[io] def derbyType(dt: org.apache.spark.sql.types.DataType): String = {
    import org.apache.spark.sql.types._
    dt match {
      case LongType    => "bigint"
      case IntegerType => "integer"
      case DoubleType  => "double"
      case BooleanType => "boolean"
      // CLOB, not LONG VARCHAR: Spark's Derby JDBC dialect binds StringType
      // parameters as CLOB, and Derby refuses a CLOB bind on LONG VARCHAR
      case _           => "clob"
    }
  }

  /** How a target database spells CREATE TABLE column types: `geometry`
    * renders the geometry column (PostGIS' typmod form carries subtype +
    * SRID, e.g. `geometry(Point,4326)` — ref `io/sql.py:343-463`);
    * `scalar` renders everything else. Parameterizing the dialect keeps ONE
    * create-then-append code path that the Derby round-trip exercises while
    * the PostGIS DDL text itself is pinned by unit test. */
  final case class SqlDdlDialect(
      geometry: (String, Int) => String,
      scalar: org.apache.spark.sql.types.DataType => String)

  val PostgisDdl: SqlDdlDialect =
    SqlDdlDialect((gt, srid) => s"geometry($gt,$srid)", pgType)
  val DerbyDdl: SqlDdlDialect =
    SqlDdlDialect((_, _) => "clob", derbyType)

  /** The CREATE TABLE statement `to_postgis` issues for a new table. */
  def createTableDdl(gdf: GeoDataFrame, table: String, srid: Int,
                     geometryType: String = "Geometry",
                     dialect: SqlDdlDialect = PostgisDdl): String = {
    val cols = gdf.df.schema.fields.map { f =>
      val t = if (f.name == gdf.geometryCol) dialect.geometry(geometryType, srid)
              else dialect.scalar(f.dataType)
      "\"" + f.name + "\" " + t
    }
    s"CREATE TABLE $table (${cols.mkString(", ")})"
  }

  /** `to_postgis` against a PRE-CREATED table: issue the dialect's CREATE
    * TABLE (PostGIS: geometry typmod column), then append through the same
    * JDBC writer — the path a live server takes when the table is new
    * (ref `io/sql.py:343-463`). */
  def toPostgisWithDdl(gdf: GeoDataFrame, url: String, table: String, srid: Int,
                       geometryType: String = "Geometry",
                       dialect: SqlDdlDialect = PostgisDdl,
                       properties: java.util.Properties = new java.util.Properties()): Unit = {
    val ddl = createTableDdl(gdf, table, srid, geometryType, dialect)
    val props = withPgStringtype(url, properties)
    val conn = java.sql.DriverManager.getConnection(url, props)
    try {
      val st = conn.createStatement()
      try st.executeUpdate(ddl) finally st.close()
    } finally conn.close()
    toPostgis(gdf, url, table, srid, props, mode = "append")
  }

  // --------------------------------------------------------------- helpers

  private[io] def hexToBytes(hex: String): Array[Byte] = {
    val s = hex.trim
    val out = new Array[Byte](s.length / 2)
    var i = 0
    while (i < out.length) {
      out(i) = ((Character.digit(s.charAt(2 * i), 16) << 4) | Character.digit(s.charAt(2 * i + 1), 16)).toByte
      i += 1
    }
    out
  }

  private[io] def bytesToHex(b: Array[Byte]): String = {
    val digits = "0123456789ABCDEF"
    val sb = new StringBuilder(b.length * 2)
    b.foreach { x => sb += digits((x >> 4) & 0xf); sb += digits(x & 0xf) }
    sb.toString
  }
}
