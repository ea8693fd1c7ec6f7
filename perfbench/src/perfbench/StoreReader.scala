package perfbench

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Path}
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.jdk.CollectionConverters._

/** The benchmark's own reader for the OME-Zarr v0.5 stores that
  * pyramid_write produces: Zarr v3 arrays of uint16, one
  * `sharding_indexed` codec whose inner chain is bytes(little) + zstd,
  * default chunk-key encoding. It parses the JSON documents with
  * Jackson, the shard index footer by hand, and decompresses with
  * zstd-jni directly, so a fault in the program's codecs, sharding or
  * metadata cannot hide behind a matching fault in the reader.
  */
object StoreReader {
  private val json = new ObjectMapper()

  final case class Level(path: String, shape: Array[Int], scale: Array[Double],
      voxels: Array[Int])

  def readPyramid(root: Path): Seq[Level] = {
    val attrs = json.readTree(root.resolve("zarr.json").toFile).path("attributes")
    val ms = attrs.path("ome").path("multiscales").get(0)
    require(ms != null, s"no ome.multiscales in $root/zarr.json")
    ms.path("datasets").elements().asScala.toSeq.map { d =>
      val path = d.path("path").asText()
      val scale = d.path("coordinateTransformations").elements().asScala
        .find(_.path("type").asText() == "scale")
        .getOrElse(sys.error(s"$path has no scale transform"))
        .path("scale").elements().asScala.map(_.asDouble()).toArray
      val (shape, voxels) = readArray(root.resolve(path))
      Level(path, shape, scale, voxels)
    }
  }

  private def ints(n: JsonNode): Array[Int] = n.elements().asScala.map(_.asInt()).toArray

  def readArray(dir: Path): (Array[Int], Array[Int]) = {
    val doc = json.readTree(dir.resolve("zarr.json").toFile)
    require(doc.path("data_type").asText() == "uint16", s"$dir: dtype ${doc.path("data_type")}")
    val shape = ints(doc.path("shape"))
    val shard = ints(doc.path("chunk_grid").path("configuration").path("chunk_shape"))
    val codecs = doc.path("codecs")
    require(codecs.size() == 1 && codecs.get(0).path("name").asText() == "sharding_indexed",
      s"$dir: expected one sharding_indexed codec")
    val cfg = codecs.get(0).path("configuration")
    val inner = ints(cfg.path("chunk_shape"))
    val innerCodecs = cfg.path("codecs").elements().asScala.map(_.path("name").asText()).toSeq
    require(innerCodecs == Seq("bytes", "zstd"), s"$dir: inner codecs $innerCodecs")
    require(cfg.path("index_location").asText("end") == "end", s"$dir: index not at end")
    val cps = shard.zip(inner).map { case (s, c) => s / c }
    val nInner = cps.product
    val innerBytes = inner.product * 2
    val out = new Array[Int](shape.product)
    val grid = shape.zip(shard).map { case (n, s) => (n + s - 1) / s }
    for (sz <- 0 until grid(0); sy <- 0 until grid(1); sx <- 0 until grid(2)) {
      val f = dir.resolve(s"c/$sz/$sy/$sx")
      if (Files.exists(f)) {
        val bytes = Files.readAllBytes(f)
        val indexAt = bytes.length - 4 - 16 * nInner
        val crc = new java.util.zip.CRC32C
        crc.update(bytes, indexAt, 16 * nInner)
        require(ByteBuffer.wrap(bytes, bytes.length - 4, 4).order(ByteOrder.LITTLE_ENDIAN).getInt ==
          crc.getValue.toInt, s"$f: shard index crc32c mismatch")
        val index = ByteBuffer.wrap(bytes, indexAt, 16 * nInner).order(ByteOrder.LITTLE_ENDIAN)
        for (k <- 0 until nInner) {
          val off = index.getLong(); val len = index.getLong()
          if (off != -1L) {
            val raw = com.github.luben.zstd.Zstd.decompress(
              java.util.Arrays.copyOfRange(bytes, off.toInt, (off + len).toInt), innerBytes)
            require(raw.length == innerBytes, s"$f inner $k: ${raw.length} bytes")
            val iz = k / (cps(1) * cps(2)); val iy = (k / cps(2)) % cps(1); val ix = k % cps(2)
            val z0 = sz * shard(0) + iz * inner(0)
            val y0 = sy * shard(1) + iy * inner(1)
            val x0 = sx * shard(2) + ix * inner(2)
            val buf = ByteBuffer.wrap(raw).order(ByteOrder.LITTLE_ENDIAN).asShortBuffer()
            var z = 0
            while (z < inner(0)) {
              var y = 0
              while (y < inner(1)) {
                var x = 0
                while (x < inner(2)) {
                  val v = buf.get() & 0xffff
                  val (gz, gy, gx) = (z0 + z, y0 + y, x0 + x)
                  if (gz < shape(0) && gy < shape(1) && gx < shape(2))
                    out((gz * shape(1) + gy) * shape(2) + gx) = v
                  x += 1
                }
                y += 1
              }
              z += 1
            }
          }
        }
      }
    }
    (shape, out)
  }

  /** Bytes of every regular file under `root`, and how many there are. */
  def footprint(root: Path): (Long, Int) = {
    val s = Files.walk(root)
    try {
      val files = s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      (files.map(Files.size).sum, files.length)
    } finally s.close()
  }

  def delete(root: Path): Unit = if (Files.exists(root)) {
    val s = Files.walk(root)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists) finally s.close()
  }
}
