package graft.io

import graft.SparkTestBase
import org.scalatest.funsuite.AnyFunSuite

/** `GeoIO.readFile`, the extension-dispatching reader. */
class GeoIOSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  test("a missing path fails at the call, naming the path, for every extension") {
    val dir = java.nio.file.Files.createTempDirectory("geoio_missing").toString
    val exts = Seq("shp", "zip", "fgb", "geojson", "ndjson", "gpkg", "csv", "kml", "gml", "gpx",
      "mif", "dxf", "feather", "parquet")
    // no action runs: a reader that defers the error to the first action
    // returns a frame here instead of throwing
    val wrong = exts.flatMap { ext =>
      val path = s"$dir/absent.$ext"
      scala.util.Try(GeoIO.readFile(spark, path)) match {
        case scala.util.Failure(e) if e.getMessage != null && e.getMessage.contains(path) => None
        case other => Some(s"$ext: $other")
      }
    }
    assert(wrong.isEmpty, wrong.mkString("\n"))
  }
}
