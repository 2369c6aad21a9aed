package graft.spark

import org.apache.spark.sql.{Encoder, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf
import org.apache.spark.sql.types.StructType

import graft.core.{GeoCodec, LatLngRect, S2CellId, Wkb}

/** S2_BOX surface type: plain struct of degrees (reference S2_BOX is a
  * STRUCT(xmin,ymin,xmax,ymax DOUBLE) alias, src/s2_types.cpp:33-40). */
case class S2Box(xmin: Double, ymin: Double, xmax: Double, ymax: Double)

object S2Boxes {

  def toBox(r: LatLngRect): S2Box = S2Box(r.xminDeg, r.yminDeg, r.xmaxDeg, r.ymaxDeg)

  /** Geography bound in radians; cell-center fast path decodes only the
    * 8-byte id (reference: s2_bounds.cpp:190-193). */
  def boundsRect(bytes: Array[Byte]): LatLngRect = {
    if (GeoCodec.isEmptyBlob(bytes)) LatLngRect.Empty
    else if (GeoCodec.kindOf(bytes) == GeoCodec.KindCellCenter) {
      val p = S2CellId.toPoint(GeoCodec.cellCenterIdOf(bytes))
      LatLngRect.Empty.addPoint(p.latRadians, p.lngRadians)
    } else LatLngRect.bound(GeoCodec.decode(bytes))
  }

  // ---- kernels of the s2_box* SQL names; an S2_BOX value is an
  // InternalRow of BoxType
  private def row(xmin: Double, ymin: Double, xmax: Double, ymax: Double): InternalRow =
    new GenericInternalRow(Array[Any](xmin, ymin, xmax, ymax))
  private def row(r: LatLngRect): InternalRow = row(r.xminDeg, r.yminDeg, r.xmaxDeg, r.ymaxDeg)
  private def rect(b: InternalRow): LatLngRect =
    LatLngRect.fromDegrees(b.getDouble(0), b.getDouble(1), b.getDouble(2), b.getDouble(3))

  def boundsBox(bytes: Array[Byte]): InternalRow = row(boundsRect(bytes))

  /** Constructor passes the input degrees through verbatim (the reference
    * S2_BOX constructor copies; only *operations* round-trip radians).
    * ymin > ymax is the EMPTY convention (s2_bounds.cpp:506-512). */
  def box(xmin: Double, ymin: Double, xmax: Double, ymax: Double): InternalRow =
    if (ymin > ymax) row(LatLngRect.Empty) else row(xmin, ymin, xmax, ymax)

  def boxIntersects(a: InternalRow, b: InternalRow): Boolean = rect(a).intersects(rect(b))

  def boxUnion(a: InternalRow, b: InternalRow): InternalRow = row(rect(a).union(rect(b)))

  /** Identity in Spark — no aliased types to strip (reference
    * s2_bounds.cpp:455-492 exists only because DuckDB aliases structs). */
  def boxStruct(b: InternalRow): InternalRow = b

  def boxWkb(b: InternalRow): Array[Byte] = Wkb.write(LatLngRect.toWkbGeography(rect(b)))

  /** s2_bounds_box_agg: rect-union aggregate
    * (reference: s2_bounds.cpp:204-348; Update/Combine/Finalize map to
    * reduce/merge/finish). The buffer is the raw rect in radians. */
  class BoundsBoxAgg extends Aggregator[Array[Byte], (Double, Double, Double, Double), S2Box] {
    def zero: (Double, Double, Double, Double) = (1.0, 0.0, Math.PI, -Math.PI)
    def reduce(b: (Double, Double, Double, Double), g: Array[Byte]): (Double, Double, Double, Double) = {
      val u = LatLngRect(b._1, b._2, b._3, b._4).union(boundsRect(g))
      (u.latLo, u.latHi, u.lngLo, u.lngHi)
    }
    def merge(a: (Double, Double, Double, Double), b: (Double, Double, Double, Double)): (Double, Double, Double, Double) = {
      val u = LatLngRect(a._1, a._2, a._3, a._4).union(LatLngRect(b._1, b._2, b._3, b._4))
      (u.latLo, u.latHi, u.lngLo, u.lngHi)
    }
    def finish(b: (Double, Double, Double, Double)): S2Box =
      toBox(LatLngRect(b._1, b._2, b._3, b._4))
    def bufferEncoder: Encoder[(Double, Double, Double, Double)] =
      Encoders.tuple(Encoders.scalaDouble, Encoders.scalaDouble, Encoders.scalaDouble, Encoders.scalaDouble)
    def outputEncoder: Encoder[S2Box] = Encoders.product[S2Box]
  }

  /** The S2_BOX struct, as the reference declares it. */
  val BoxType: StructType = Encoders.product[S2Box].schema

  /** Register the box scalars (rows of the one function table) and the
    * bounds aggregate, replacing any existing binding. */
  def register(spark: SparkSession): Unit = {
    SqlFunctions.install(spark, SqlFunctions.boxes, replace = true)
    spark.udf.register("s2_bounds_box_agg", udaf(new BoundsBoxAgg))
    ()
  }
}
