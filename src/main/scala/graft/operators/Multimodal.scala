package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal (image/audio/video) column handling for training-data
  * pipelines: opaque `binary` payload + typed metadata, with
  * decode/feature/resize/frame-sample stages as `mapPartitions` stages.
  *
  * Reference analog: the `datalink` type + pdf/docx parsers
  * (`pkg/datalink/`), and `load_file_chunks` (§2.10). At 100 TB the
  * payloads live in parquet binary columns (or a `binaryFile` source dir);
  * every stage below is partition-parallel with no shuffle.
  *
  * The actual codec step is STUBBED (this container has no image/audio
  * libs): `decodeImages` derives deterministic fake pixels/metadata from
  * the bytes. The Spark-side plumbing — schema, encoders, per-partition
  * batch iteration, binary slicing — is real and tested; swap
  * `stubDecode` with a JNI/javacpp codec to productionize.
  */
object Multimodal {

  /** A decoded image record (stub). */
  final case class Decoded(
      media_id: Long, width: Int, height: Int, channels: Int, brightness: Double)

  /** Wrap a text corpus as a media table: (media_id, bytes, mime, n_bytes).
    * Stand-in for `spark.read.format("binaryFile")` at test scale.
    */
  def asMedia(docs: DataFrame, idCol: String, payloadCol: String): DataFrame =
    docs.select(
      col(idCol).as("media_id"),
      col(payloadCol).cast("binary").as("bytes"),
      lit("application/octet-stream").as("mime"),
      length(col(payloadCol).cast("binary")).cast("long").as("n_bytes"))

  /** Decoder seam: the codec call a partition iterator maps rows
    * through. Two implementations ship — the deterministic [[StubDecoder]]
    * (payloads here are synthetic text, not real images) and the REAL
    * [[ImageIoDecoder]] on the JDK's javax.imageio (PNG/JPEG/GIF/BMP),
    * exercised end-to-end in MultimodalSpec on generated PNGs — proving
    * the seam is load-bearing, not decorative.
    */
  trait ImageDecoder extends Serializable {
    def decode(id: Long, bytes: Array[Byte]): Decoded
  }

  /** Deterministic metadata from leading bytes (no codec needed). */
  object StubDecoder extends ImageDecoder {
    override def decode(id: Long, bytes: Array[Byte]): Decoded = {
      val b0 = if (bytes.length > 0) bytes(0) & 0xff else 0
      val b1 = if (bytes.length > 1) bytes(1) & 0xff else 0
      val n = math.min(16, bytes.length)
      var sum = 0.0
      var i = 0
      while (i < n) { sum += (bytes(i) & 0xff); i += 1 }
      Decoded(id, 64 + b0 % 64, 64 + b1 % 64, 3,
        if (n == 0) 0.0 else sum / n / 255.0)
    }
  }

  /** Real image decode via the JDK's ImageIO: width/height/channels from
    * the decoded raster, brightness = mean RGB over all pixels / 255.
    * Undecodable payloads yield a zeroed record (a real pipeline would
    * route them to a quarantine sink).
    */
  object ImageIoDecoder extends ImageDecoder {
    override def decode(id: Long, bytes: Array[Byte]): Decoded = {
      val img =
        try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
        catch { case _: Exception => null }
      if (img == null) return Decoded(id, 0, 0, 0, 0.0)
      var sum = 0.0
      var y = 0
      while (y < img.getHeight) {
        var x = 0
        while (x < img.getWidth) {
          val rgb = img.getRGB(x, y)
          sum += ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
          x += 1
        }
        y += 1
      }
      val px = img.getWidth.toLong * img.getHeight
      Decoded(id, img.getWidth, img.getHeight,
        img.getColorModel.getNumComponents,
        if (px == 0) 0.0 else sum / (px * 3.0) / 255.0)
    }
  }

  def decodeImages(media: DataFrame,
      decoder: ImageDecoder = StubDecoder): Dataset[Decoded] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("bytes"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) => decoder.decode(id, bytes) })
  }

  /** Resize stage (stub): pure metadata arithmetic, preserves the record
    * shape a real resampler would produce.
    */
  def resize(decoded: Dataset[Decoded], w: Int, h: Int): DataFrame =
    decoded.toDF().withColumn("width", lit(w)).withColumn("height", lit(h))

  /** Frame payloads with checksums (binary substring + md5, both
    * codegen'd expressions).
    */
  def frameChecksums(media: DataFrame, frameBytes: Int): DataFrame =
    media
      .withColumn("_nframes",
        greatest((length(col("bytes")) / frameBytes).cast("int"), lit(1)))
      .select(col("media_id"), col("bytes"),
        explode(sequence(lit(0), col("_nframes") - 1)).as("frame_idx"))
      .withColumn("frame",
        expr(s"substring(bytes, frame_idx * $frameBytes + 1, $frameBytes)"))
      .filter(length(col("frame")) > 0)
      .select(col("media_id"), col("frame_idx").cast("long").as("frame_idx"),
        length(col("frame")).cast("long").as("frame_len"),
        md5(col("frame")).as("frame_md5"))
}
