package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** File-based media ingestion: the `binaryFile` source is how a media
  * lakehouse actually lands image/audio payloads (one row per file:
  * path, length, content BinaryType). This spec proves the ingestion
  * path feeds the same decode pipeline q52c runs on a synthesized
  * binary column — write deterministic PNGs as FILES, read them back
  * via binaryFile, decode with javax.imageio, and check the pixels. */
class MultimodalSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSession.spark
  import spark.implicits._

  test("binaryFile source ingests PNG files into the decode pipeline") {
    import java.awt.image.BufferedImage
    import javax.imageio.ImageIO
    // local function value: the executor closure must not capture the
    // (non-serializable) suite instance
    val pixel = (id: Long, x: Int, y: Int) => ((id * 31 + x * 7 + y * 13) % 256).toInt
    val dir = tempDir("graft_media")
    val ids = 0L until 8L
    ids.foreach { id =>
      val (w, h) = ((8 + id % 9).toInt, (8 + id % 7).toInt)
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) {
        val v = pixel(id, x, y)
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      ImageIO.write(img, "png", dir.resolve(s"img_$id.png").toFile)
    }
    val media = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.png")
      .load(dir.toString)
      .select(
        regexp_extract(col("path"), "img_(\\d+)\\.png", 1).cast("long").as("doc_id"),
        col("length"), col("content"))
    val decoded = media.as[(Long, Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, len, bytes) =>
          assert(bytes.length == len)
          val img = ImageIO.read(new java.io.ByteArrayInputStream(bytes))
          val ok = (0 until img.getHeight).forall(y => (0 until img.getWidth).forall(x =>
            (img.getRGB(x, y) & 0xFF) == pixel(id, x, y)))
          (id, img.getWidth, img.getHeight, ok)
        }
      }.collect().sortBy(_._1)
    assert(decoded.map(_._1).toSeq == ids.toSeq, "every file ingested exactly once")
    decoded.foreach { case (id, w, h, ok) =>
      assert(w == (8 + id % 9).toInt && h == (8 + id % 7).toInt, s"dims of $id")
      assert(ok, s"pixel round-trip of $id")
    }
  }
}
