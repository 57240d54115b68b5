package graftbench

import graft.geom.{GeomOps, Wkb}
import org.locationtech.jts.geom.Geometry
import org.locationtech.jts.geom.prep.PreparedGeometryFactory

/** Single-thread driver micro-benchmark of the `graft.geom` calls the
  * workloads' kernels make, on a fixed sample of the workload's own
  * geometries. Each figure is the median over batches of microseconds per
  * call. */
object GeomMicro {
  private def perCall(batches: Int)(batch: () => Int): Double = {
    batch() // first batch warms the JIT and is not timed
    val us = (1 to batches).map { _ =>
      val t0 = System.nanoTime()
      val n = batch()
      (System.nanoTime() - t0) / 1e3 / n
    }.sorted
    us(us.size / 2)
  }

  def run(polys: Seq[Geometry], points: Seq[Geometry], batches: Int = 5): Map[String, Double] = {
    val wkb = polys.map(Wkb.write)
    // overlapping pairs: each polygon against a copy shifted by a quarter of
    // its envelope, so every pair does constructive work
    val pairs = polys.map { p =>
      val e = p.getEnvelopeInternal
      val q = p.copy()
      q.apply(new org.locationtech.jts.geom.util.AffineTransformation().translate(e.getWidth / 4, e.getHeight / 4))
      q.geometryChanged()
      (p, q)
    }
    val prepared = polys.map(PreparedGeometryFactory.prepare)
    var sink = 0.0
    val r = Map(
      "geom.wkb_read_us" -> perCall(batches) { () => wkb.foreach(b => sink += Wkb.read(b).getNumPoints); wkb.size },
      "geom.wkb_write_us" -> perCall(batches) { () => polys.foreach(g => sink += Wkb.write(g).length); polys.size },
      "geom.prepared_intersects_us" -> perCall(batches) { () =>
        prepared.foreach(pg => points.foreach(p => if (pg.intersects(p)) sink += 1))
        prepared.size * points.size
      },
      "geom.intersection_us" -> perCall(batches) { () => pairs.foreach { case (a, b) => sink += GeomOps.intersection(a, b).getArea }; pairs.size },
      "geom.difference_us" -> perCall(batches) { () => pairs.foreach { case (a, b) => sink += GeomOps.difference(a, b).getArea }; pairs.size },
      "geom.union_us" -> perCall(batches) { () => pairs.foreach { case (a, b) => sink += GeomOps.union(a, b).getArea }; pairs.size },
      "geom.make_valid_us" -> perCall(batches) { () => polys.foreach(g => sink += GeomOps.makeValid(g).getArea); polys.size })
    require(!sink.isNaN)
    r
  }
}
