package graft.raster

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The tile-relation: a GeoRaster as a Dataset of fixed-size chunks —
  * exactly the reference's own `chunks()` decomposition
  * (georaster.py:2182-2232) promoted to the storage model (SURVEY.md §1.1).
  * Kernels run per-chunk via the MRaster unit; relational ops (merge,
  * histogram, stats) compile to plain aggregations so Catalyst/AQE handle
  * partitioning and skew. */
object RasterRelation {

  /** One chunk row. data/mask packed as doubles/booleans serialized by the
    * Dataset encoder; band-major within a chunk. */
  final case class Chunk(
      rasterId: String,
      sourceOrder: Int,
      band: String,
      colOff: Int,
      rowOff: Int,
      w: Int,
      h: Int,
      data: Array[Double],
      mask: Array[Boolean])

  /** chunks(shape) — split an MRaster into chunk rows incl. edge remainders
    * (georaster.py:2182-2232, pad=False semantics). */
  def chunksOf(r: MRaster, rasterId: String, sourceOrder: Int = 0,
               chunkSize: Int = 256): Seq[Chunk] = {
    val out = Seq.newBuilder[Chunk]
    var rowOff = 0
    while (rowOff < r.height) {
      val h = math.min(chunkSize, r.height - rowOff)
      var colOff = 0
      while (colOff < r.width) {
        val w = math.min(chunkSize, r.width - colOff)
        for ((bn, bi) <- r.bandNames.zipWithIndex) {
          val data = new Array[Double](w * h)
          val mask = new Array[Boolean](w * h)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              data(y * w + x) = r.get(bi, colOff + x, rowOff + y)
              mask(y * w + x) = r.masked(colOff + x, rowOff + y)
              x += 1
            }
            y += 1
          }
          out += Chunk(rasterId, sourceOrder, bn, colOff, rowOff, w, h, data, mask)
        }
        colOff += chunkSize
      }
      rowOff += chunkSize
    }
    out.result()
  }

  /** Reassemble one band from chunk rows (driver-side; serving edge only). */
  def assemble(chunks: Seq[Chunk], width: Int, height: Int,
               affine: Affine, crs: Int, dtype: String): MRaster = {
    val data = new Array[Double](width * height)
    val mask = Array.fill(width * height)(true)
    chunks.foreach { c =>
      var y = 0
      while (y < c.h) {
        var x = 0
        while (x < c.w) {
          val i = (c.rowOff + y) * width + (c.colOff + x)
          data(i) = c.data(y * c.w + x)
          mask(i) = c.mask(y * c.w + x)
          x += 1
        }
        y += 1
      }
    }
    MRaster(Array(data), mask, width, height, affine, crs,
      Seq(chunks.headOption.map(_.band).getOrElse("1")), dtype, None)
  }

  /** Distributed FIRST-strategy merge over a sparse pixel relation
    * (cell LONG, src INT, value): ordered first-non-masked-wins =
    * min(struct(src, value)) per cell — an associative aggregate, so the
    * map-side partial agg already collapses most rows (SURVEY.md §2.5
    * ordered coalesce). */
  def mergeFirstWins(pixels: DataFrame): DataFrame =
    pixels.groupBy(col("cell"))
      .agg(min(struct(col("src"), col("value"))).as("sv"))
      .select(col("cell"), col("sv.src").as("src"), col("sv.value").as("value"))

  /** Distributed INDEX strategy: ordinal of the first contributing source. */
  def mergeIndex(pixels: DataFrame): DataFrame =
    pixels.groupBy(col("cell"))
      .agg(min(col("src")).as("idx"), count(lit(1)).as("n_sources"))

  /** Distributed histogram over the sparse pixel relation:
    * groupBy(value).count — the scale form of MRaster.histogram. */
  def histogram(pixels: DataFrame): DataFrame =
    pixels.groupBy(col("value")).agg(count(lit(1)).as("freq"))
}
