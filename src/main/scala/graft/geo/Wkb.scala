package graft.geo

import java.nio.{ByteBuffer, ByteOrder}
import scala.collection.mutable.ArrayBuffer

/** Minimal WKB codec for the geometry shapes the reference pipeline carries
  * (Point / LineString / Polygon / MultiPolygon, EPSG:4326, see
  * reference overturemaestro/geopandas_io.py:23 — geometry column is WKB).
  *
  * The reader works directly over the byte array (no intermediate object
  * graph) so the ray-casting refinement expression can evaluate WKB bytes
  * per row without per-row allocation beyond a ByteBuffer view.
  */
object Wkb {
  final val Point = 1
  final val LineString = 2
  final val Polygon = 3
  final val MultiPoint = 4
  final val MultiLineString = 5
  final val MultiPolygon = 6

  private def order(b: Byte): ByteOrder =
    if (b == 1) ByteOrder.LITTLE_ENDIAN else ByteOrder.BIG_ENDIAN

  /** Reads one (endian, type) header at the buffer position and returns
    * the BASE geometry type: decodes ISO variants (+1000 Z, +2000 M,
    * +3000 ZM) and EWKB flag bits, and skips an EWKB SRID payload so the
    * buffer lands on the geometry body. `strict` rejects Z/M payloads
    * (their extra per-point doubles would misparse in the 2D readers —
    * the reference pipeline is strictly 2D, geopandas_io.py:23) with a
    * clear message instead of reading garbage. */
  private def readHeader(bb: ByteBuffer, strict: Boolean): Int = {
    bb.order(order(bb.get()))
    val raw = bb.getInt()
    val ewkbZM = (raw & 0xC0000000) != 0
    val base0 = raw & 0x1FFFFFFF
    val base = base0 % 1000
    if ((raw & 0x20000000) != 0) bb.getInt() // skip EWKB SRID
    if (strict && (ewkbZM || base0 >= 1000))
      throw new IllegalArgumentException(
        f"WKB with Z/M coordinates unsupported (type word 0x$raw%08x); engine geometries are 2D")
    base
  }

  /** Geometry type code of the WKB blob (base type: ISO +1000s and EWKB
    * flag bits stripped, SRID payload skipped). */
  def geomType(wkb: Array[Byte]): Int =
    readHeader(ByteBuffer.wrap(wkb), strict = false)

  def writePoint(x: Double, y: Double): Array[Byte] = {
    val bb = ByteBuffer.allocate(21).order(ByteOrder.LITTLE_ENDIAN)
    bb.put(1.toByte).putInt(Point).putDouble(x).putDouble(y)
    bb.array()
  }

  /** rings: outer first, then holes; each ring is a flat (x,y,…) array whose
    * first point equals its last (closed). */
  def writePolygon(rings: Array[Array[Double]]): Array[Byte] = {
    var size = 1 + 4 + 4
    rings.foreach(r => size += 4 + r.length * 8)
    val bb = ByteBuffer.allocate(size).order(ByteOrder.LITTLE_ENDIAN)
    bb.put(1.toByte).putInt(Polygon).putInt(rings.length)
    rings.foreach { r =>
      bb.putInt(r.length / 2)
      r.foreach(bb.putDouble)
    }
    bb.array()
  }

  def writeMultiPolygon(polys: Array[Array[Array[Double]]]): Array[Byte] = {
    val parts = polys.map(writePolygon)
    val bb = ByteBuffer.allocate(9 + parts.map(_.length).sum)
      .order(ByteOrder.LITTLE_ENDIAN)
    bb.put(1.toByte).putInt(MultiPolygon).putInt(parts.length)
    parts.foreach(bb.put)
    bb.array()
  }

  def readPoint(wkb: Array[Byte]): (Double, Double) = {
    val bb = ByteBuffer.wrap(wkb)
    require(readHeader(bb, strict = true) == Point, "not a WKB point")
    (bb.getDouble(), bb.getDouble())
  }

  /** Parses polygon / multipolygon WKB into rings (flat coord arrays).
    * Returns a seq of polygons, each a seq of rings (outer first). */
  def readPolygons(wkb: Array[Byte]): Array[Array[Array[Double]]] = {
    val bb = ByteBuffer.wrap(wkb)
    readPolygonsFrom(bb)
  }

  private def readPolygonsFrom(bb: ByteBuffer): Array[Array[Array[Double]]] = {
    val t = readHeader(bb, strict = true)
    t match {
      case Polygon => Array(readRings(bb))
      case MultiPolygon =>
        val n = bb.getInt()
        val out = new Array[Array[Array[Double]]](n)
        var i = 0
        while (i < n) { out(i) = { require(readHeader(bb, strict = true) == Polygon); readRings(bb) }; i += 1 }
        out
      case other => throw new IllegalArgumentException(s"WKB type $other is not areal")
    }
  }

  private def readRings(bb: ByteBuffer): Array[Array[Double]] = {
    val nRings = bb.getInt()
    val rings = new Array[Array[Double]](nRings)
    var r = 0
    while (r < nRings) {
      val n = bb.getInt()
      val c = new Array[Double](n * 2)
      var i = 0
      while (i < n * 2) { c(i) = bb.getDouble(); i += 1 }
      rings(r) = c
      r += 1
    }
    rings
  }

  /** Exact point-in-areal-geometry test (ray casting, even-odd over all
    * rings: holes flip containment naturally). Works on Polygon and
    * MultiPolygon WKB. Allocation-light: parses in place. */
  def containsPoint(wkb: Array[Byte], px: Double, py: Double): Boolean = {
    val bb = ByteBuffer.wrap(wkb)
    val t = readHeader(bb, strict = true)
    t match {
      case Polygon => polygonContains(bb, px, py)
      case MultiPolygon =>
        val n = bb.getInt()
        var i = 0
        var in = false
        while (i < n && !in) {
          require(readHeader(bb, strict = true) == Polygon,
            "MultiPolygon member must be Polygon")
          in = polygonContains(bb, px, py)
          i += 1
        }
        in
      case Point =>
        px == bb.getDouble() && py == bb.getDouble()
      case other => throw new IllegalArgumentException(s"containsPoint on WKB type $other")
    }
  }

  private def polygonContains(bb: ByteBuffer, px: Double, py: Double): Boolean = {
    val nRings = bb.getInt()
    var inside = false
    var r = 0
    while (r < nRings) {
      val n = bb.getInt()
      // even-odd crossing count across ALL rings of this polygon
      var crossed = false
      var xj = 0.0; var yj = 0.0
      var i = 0
      var firstX = 0.0; var firstY = 0.0
      while (i < n) {
        val xi = bb.getDouble(); val yi = bb.getDouble()
        if (i == 0) { firstX = xi; firstY = yi }
        else {
          if ((yi > py) != (yj > py)) {
            val xCross = (xj - xi) * (py - yi) / (yj - yi) + xi
            if (px < xCross) crossed = !crossed
          }
        }
        xj = xi; yj = yi
        i += 1
      }
      // close ring if not explicitly closed
      if (n > 0 && (xj != firstX || yj != firstY)) {
        if ((firstY > py) != (yj > py)) {
          val xCross = (xj - firstX) * (py - firstY) / (yj - firstY) + firstX
          if (px < xCross) crossed = !crossed
        }
      }
      if (crossed) inside = !inside
      r += 1
    }
    inside
  }

  /** Envelope (xmin, ymin, xmax, ymax) of any supported WKB geometry. */
  def envelope(wkb: Array[Byte]): (Double, Double, Double, Double) = {
    val t = geomType(wkb)
    if (t == Point) {
      val (x, y) = readPoint(wkb); (x, y, x, y)
    } else {
      val polys = readPolygons(wkb)
      var xmin = Double.MaxValue; var ymin = Double.MaxValue
      var xmax = Double.MinValue; var ymax = Double.MinValue
      polys.foreach(_.foreach { ring =>
        var i = 0
        while (i < ring.length) {
          val x = ring(i); val y = ring(i + 1)
          if (x < xmin) xmin = x; if (x > xmax) xmax = x
          if (y < ymin) ymin = y; if (y > ymax) ymax = y
          i += 2
        }
      })
      (xmin, ymin, xmax, ymax)
    }
  }

  /** box(xmin,ymin,xmax,ymax) → closed CCW polygon WKB — reference F11
    * (shapely.box, overturemaestro/functions.py:865-868). */
  def box(xmin: Double, ymin: Double, xmax: Double, ymax: Double): Array[Byte] =
    writePolygon(Array(Array(
      xmin, ymin, xmax, ymin, xmax, ymax, xmin, ymax, xmin, ymin)))
}

/** WKT parse/emit for filter inputs and canonical hashing
  * (reference overturemaestro/cli.py:106-135 parses WKT filters). */
object Wkt {
  def emitPolygon(rings: Array[Array[Double]]): String =
    rings.map(ringStr).mkString("POLYGON (", ", ", ")")

  def emitMultiPolygon(polys: Array[Array[Array[Double]]]): String =
    polys.map(p => p.map(ringStr).mkString("(", ", ", ")"))
      .mkString("MULTIPOLYGON (", ", ", ")")

  private def ringStr(r: Array[Double]): String = {
    val sb = new StringBuilder("(")
    var i = 0
    while (i < r.length) {
      if (i > 0) sb.append(", ")
      sb.append(fmt(r(i))).append(' ').append(fmt(r(i + 1)))
      i += 2
    }
    sb.append(')').toString
  }

  private def fmt(d: Double): String =
    if (d == d.toLong.toDouble) d.toLong.toString else d.toString

  /** Parses POINT / POLYGON / MULTIPOLYGON WKT into WKB. */
  def parse(wkt: String): Array[Byte] = {
    val s = wkt.trim
    val upper = s.toUpperCase
    if (upper.startsWith("POINT")) {
      val nums = numbers(s)
      Wkb.writePoint(nums(0), nums(1))
    } else if (upper.startsWith("MULTIPOLYGON")) {
      Wkb.writeMultiPolygon(parseParens(body(s), 3).map(_.toArray).toArray
        .map(_.map(_.toArray)))
    } else if (upper.startsWith("POLYGON")) {
      Wkb.writePolygon(parseParens(body(s), 2).head.map(_.toArray).toArray)
    } else throw new IllegalArgumentException(s"unsupported WKT: ${s.take(30)}")
  }

  private def body(s: String): String = s.substring(s.indexOf('('))

  private def numbers(s: String): Array[Double] =
    "[-+]?[0-9]*\\.?[0-9]+(?:[eE][-+]?[0-9]+)?".r.findAllIn(s).map(_.toDouble).toArray

  /** Parses nested-paren coordinate groups to depth `depth`:
    * depth 2 = polygon (rings), depth 3 = multipolygon (polys of rings). */
  private def parseParens(s: String, depth: Int): ArrayBuffer[ArrayBuffer[ArrayBuffer[Double]]] = {
    // Returns polys -> rings -> flat coords
    val polys = ArrayBuffer[ArrayBuffer[ArrayBuffer[Double]]]()
    var level = 0
    var cur = new StringBuilder
    var rings: ArrayBuffer[ArrayBuffer[Double]] = null
    val top = if (depth == 2) 1 else 2 // level at which a polygon starts
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      c match {
        case '(' =>
          level += 1
          if (level == top) rings = ArrayBuffer[ArrayBuffer[Double]]()
          if (level == top + 1) cur = new StringBuilder
        case ')' =>
          if (level == top + 1) rings += ArrayBuffer(numbers(cur.toString).toIndexedSeq: _*)
          if (level == top) polys += rings
          level -= 1
        case other =>
          if (level == top + 1) cur.append(other)
          else if (depth == 2 && level == top) cur.append(other)
      }
      i += 1
    }
    if (depth == 2 && polys.isEmpty && rings != null) polys += rings
    polys
  }
}
