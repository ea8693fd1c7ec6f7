package perfbench

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.meta.Model.{ImageMeta, Method}
import graft.meta.ZarrJson
import graft.operators.{MultiscaleBuilder, OmeZarrIO}
import graft.operators.ChunkOps.ChunkRow
import graft.ops.TextDedup
import graft.zarr.{Codecs, Sharding, ZarrStore}

/** End-to-end metrics every workload reports the same way. */
object Metrics {
  /** p50 and p90 of op latency: request → result on the driver. */
  def latency(ops: Seq[Op]): Map[String, Metric] = Map(
    "read_p50_s" -> Metric(Stats.median(ops.map(_.wallS)), "s"),
    "read_p90_s" -> Metric(Stats.quantile(ops.map(_.wallS), 0.9), "s"))
}

/** Shared pieces of the two imaging workloads. */
object Imaging {
  val Dims = Seq("z", "y", "x")

  def meta(n: Int, chunk: Int): ImageMeta = ImageMeta(Dims, Seq.fill(3)(n.toLong),
    Seq.fill(3)(chunk), "uint16", Map("z" -> 2.0, "y" -> 0.5, "x" -> 0.5),
    Map("z" -> 0.0, "y" -> 0.0, "x" -> 0.0))

  /** The volume as cached chunk rows, generated one task per chunk. */
  def chunkRows(spark: SparkSession, vol: Volume, chunk: Int, tasks: Int): Dataset[ChunkRow] = {
    import spark.implicits._
    val g = vol.n / chunk
    val positions = for (z <- 0 until g; y <- 0 until g; x <- 0 until g) yield Seq(z, y, x)
    val c = chunk
    val v = vol
    val ds = spark.createDataset(positions).repartition(tasks).map { idx =>
      val origin = idx.map(_.toLong * c)
      ChunkRow(idx, origin, Seq(c, c, c), v.blockBytes(origin, Seq(c, c, c)))
    }.persist(StorageLevel.MEMORY_ONLY)
    ds.count()
    ds
  }

  def mean(v: Array[Int]): Double = {
    var s = 0L
    var i = 0
    while (i < v.length) { s += v(i); i += 1 }
    s.toDouble / v.length
  }

  def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Codec layer on the workload's own chunks: raw MB/s each way and
    * the ratio, best of three passes (the pass is short, so the best
    * one is the one least disturbed by other processes).
    */
  def codecProbe(raw: Seq[Array[Byte]], codec: String): (Map[String, Double], Seq[Array[Byte]]) = {
    val rawMB = raw.map(_.length.toLong).sum / 1e6
    var enc: Seq[Array[Byte]] = Nil
    val cTimes = (0 until 3).map { _ =>
      val (e, t) = time(raw.map(Codecs.compress(Some(codec), _, typesize = 2)))
      enc = e; t
    }
    val dTimes = (0 until 3).map { _ =>
      val (d, t) = time(enc.zip(raw).map { case (e, r) => Codecs.decompress(Some(codec), e, r.length) })
      require(d.zip(raw).forall { case (a, b) => java.util.Arrays.equals(a, b) }, s"$codec round trip differs")
      t
    }
    (Map("zarr.compress_MBps" -> rawMB / cTimes.min, "zarr.decompress_MBps" -> rawMB / dTimes.min,
      "zarr.ratio" -> raw.map(_.length.toLong).sum.toDouble / enc.map(_.length.toLong).sum), enc)
  }

  /** Store put/get on the workload's own objects: median ms per object. */
  def storeProbe(dir: Path, objects: Seq[Array[Byte]]): Map[String, Double] = {
    val st = new ZarrStore(dir.toString)
    val put = objects.zipWithIndex.map { case (o, i) => time(st.writeBytes(s"o/$i", o))._2 * 1e3 }
    val get = objects.indices.map { i =>
      val (b, t) = time(st.readBytes(s"o/$i"))
      require(b.length == objects(i).length, "store get returned a different length")
      t * 1e3
    }
    StoreReader.delete(dir)
    Map("zarr.put_ms" -> Stats.median(put), "zarr.get_ms" -> Stats.median(get))
  }

  /** Metadata open, as a reader does it: median ms over 30 opens. */
  def metaProbe(open: => Unit): Double = Stats.median((0 until 30).map(_ => time(open)._2 * 1e3))
}

/** The paper's conversion path: a seeded uint16 volume → planner-default
  * Gaussian pyramid → OME-Zarr v0.5, sharded (2×2×2 chunks per shard),
  * zstd. One op = build + write one store.
  */
final class PyramidWrite(ctx: Ctx) extends Workload {
  import Imaging._
  type Out = (Path, MultiscaleBuilder.Multiscale)

  private val n = if (ctx.smoke) 64 else 192
  private val chunk = if (ctx.smoke) 8 else 32
  private val vol = Volume(ctx.seed * 3 + 1, n)
  private val baseMeta = Imaging.meta(n, chunk)
  private val rawMB = n.toDouble * n * n * 2 / 1e6
  private var base: Dataset[ChunkRow] = _
  private lazy val reference: Array[Int] = vol.full()
  /** Base (min, max, mean): the bounds every smoothed level must keep. */
  private lazy val referenceStats = (reference.min, reference.max, Imaging.mean(reference))
  private val footprints = scala.collection.mutable.Map.empty[Int, (Long, Int)]
  private var levels = 0

  /** Levels the scale planner must produce: halve while any dim > 2·chunk. */
  private val expectedLevels = Iterator.iterate(n)(_ / 2).takeWhile(_ > 2 * chunk).length + 1

  def roundSize: Int = 1
  def warmupRounds: Int = 2
  def discardInputs(): Unit = if (base != null) base.unpersist(blocking = true)
  def prepare(): Unit = base = chunkRows(ctx.spark, vol, chunk, 2 * ctx.cores)

  def run(op: Int, j: Int): Out = {
    val dir = ctx.work.resolve(s"pyramid-$op.ome.zarr")
    val ms = ctx.phase(op, "operators.downsample") {
      val ms = MultiscaleBuilder.toMultiscales(ctx.spark, MultiscaleBuilder.Level(baseMeta, base))
      // traced run only: materialize the levels so the write phase
      // measures the write alone
      if (ctx.traced) ms.levels.tail.foreach(_.chunks.count())
      ms
    }
    ctx.phase(op, "operators.write") {
      OmeZarrIO.writeMultiscales(ctx.spark, dir.toString, ms, version = "0.5",
        compressor = Some("zstd"), chunksPerShard = Some(Seq(2, 2, 2)))
    }
    (dir, ms)
  }

  def check(op: Int, j: Int, out: Out): Unit = {
    val (dir, _) = out
    footprints(op) = StoreReader.footprint(dir)
    val lv = StoreReader.readPyramid(dir)
    levels = lv.length
    require(lv.length == expectedLevels, s"${lv.length} levels, planner should give $expectedLevels")
    lv.zipWithIndex.foreach { case (l, i) =>
      require(l.shape.toSeq == Seq.fill(3)(n >> i), s"${l.path} shape ${l.shape.toSeq}")
      (0 until 3).foreach { d =>
        val extent = l.scale(d) * l.shape(d)
        val base = lv.head.scale(d) * lv.head.shape(d)
        require(math.abs(extent - base) <= 1e-9 * base, s"${l.path} axis $d extent $extent != $base")
      }
    }
    val v0 = lv.head.voxels
    var i = 0
    while (i < v0.length) {
      if (v0(i) != reference(i)) sys.error(s"scale0 voxel $i is ${v0(i)}, generator says ${reference(i)}")
      i += 1
    }
    val (lo, hi, mean0) = referenceStats
    lv.tail.foreach { l =>
      require(l.voxels.min >= lo && l.voxels.max <= hi,
        s"${l.path} range [${l.voxels.min}, ${l.voxels.max}] leaves the base's [$lo, $hi]")
      val mean = Imaging.mean(l.voxels)
      // a normalized smoothing kernel keeps the mean; 2 % covers the
      // sampling of a blobby signal at the coarse grid
      require(math.abs(mean - mean0) <= 0.02 * mean0, s"${l.path} mean $mean vs base mean $mean0")
    }
  }

  def release(out: Out): Unit = {
    val (dir, ms) = out
    ms.levels.tail.foreach(_.chunks.unpersist(blocking = true))
    StoreReader.delete(dir)
  }

  def endToEnd(ops: Seq[Op]): Map[String, Metric] = {
    val chunks = math.pow(n / chunk, 3)
    Map(
      "write_MBps" -> Metric(Stats.median(ops.map(rawMB / _.wallS)), "MB/s"),
      "store_MB" -> Metric(Stats.median(ops.map(o => footprints(o.index)._1 / 1e6)), "MB"),
      "dedup_docs_per_s" -> Metric(Stats.median(ops.map(chunks / _.wallS)), "docs/s")) ++
      Metrics.latency(ops)
  }

  def describe: Seq[(String, String)] = Seq(
    "volume" -> s"$n^3 uint16, ${Volume.Background} background + 2 cell populations + Poisson-like noise",
    "chunks" -> s"$chunk^3, ${math.pow(n / chunk, 3).toInt} at scale 0",
    "pyramid" -> s"planner default, $expectedLevels levels, ${Method.ItkwasmGaussian.value}",
    "store" -> "OME-Zarr v0.5, sharded 2x2x2 chunks per shard, zstd level 3")

  def layers(ops: Seq[Op]): Map[String, Double] = {
    val idx = ops.map(_.index)
    val rows = base.collect().sortBy(_.chunkIdx.mkString(","))
    val (codec, enc) = codecProbe(rows.map(_.data).toSeq, "zstd")
    // shards as the writer forms them: 2×2×2 inner chunks, row-major
    val shards = rows.zip(enc).groupBy { case (r, _) => r.chunkIdx.map(_ / 2) }.values.toSeq.map { g =>
      g.map { case (r, e) => Sharding.innerFlatIndex(r.chunkIdx.map(_ % 2), Seq(2, 2, 2)) -> e }.toMap
    }
    val built = shards.map(s => time(Sharding.buildShard(8, s)))
    // one more store to open, outside the timed ops
    val (dir, ms) = run(-1, 0)
    val open = metaProbe {
      val st = new ZarrStore(dir.toString)
      val raw = st.readString("zarr.json")
      ZarrJson.parseConsolidatedV3(raw)
      ZarrJson.parseMultiscales(ZarrJson.mapper.writeValueAsString(ZarrJson.mapper.readTree(raw).path("attributes")))
    }
    release((dir, ms))
    codec ++ storeProbe(ctx.work.resolve("probe-store"), built.map(_._1)) ++ Map(
      "meta.open_ms" -> open,
      "zarr.shard_build_ms" -> Stats.median(built.map(_._2 * 1e3)),
      "zarr.files_written" -> Stats.median(ops.map(o => footprints(o.index)._2.toDouble)),
      "operators.levels" -> levels.toDouble,
      "operators.downsample_s" -> ctx.phaseMedian(idx, "operators.downsample"),
      "operators.downsample_cpu_s" -> ctx.phaseCounter(idx, "operators.downsample")(_.executorCpuNs / 1e9),
      "operators.downsample_shuffle_MB" -> ctx.phaseCounter(idx, "operators.downsample")(_.shuffleWriteBytes / 1e6),
      "operators.write_s" -> ctx.phaseMedian(idx, "operators.write"),
      "operators.write_cpu_s" -> ctx.phaseCounter(idx, "operators.write")(_.executorCpuNs / 1e9),
      "operators.write_shuffle_MB" -> ctx.phaseCounter(idx, "operators.write")(_.shuffleWriteBytes / 1e6))
  }
}

/** A viewer's closed loop with one client against an OME-Zarr v0.4
  * (Zarr v2) store, blosc lz4 + byte shuffle, written in set-up with
  * bin-shrink. A round is a seeded, fixed sequence of requests: small
  * boxes at full resolution, boxes at the middle level, and the whole
  * coarsest level as a thumbnail, each read through
  * `spark.read.format("omezarr")` and assembled on the driver.
  */
final class RegionRead(ctx: Ctx) extends Workload {
  import Imaging._

  final case class Req(scale: Int, lo: Seq[Int], edge: Int)
  type Out = Array[Int]

  private val n = if (ctx.smoke) 32 else 96
  private val chunk = if (ctx.smoke) 8 else 32
  private val vol = Volume(ctx.seed * 3 + 2, n)
  private val store = ctx.work.resolve("region.ome.zarr")
  private lazy val reference: Seq[Array[Int]] = {
    val l0 = vol.full()
    val l1 = Volume.binShrink2(l0, n)
    Seq(l0, l1, Volume.binShrink2(l1, n / 2))
  }

  private val box = chunk * 3 / 4
  /** One round: 3 boxes at full resolution, 13 smaller boxes at the
    * middle level and 2 whole-coarsest-level thumbnails, in a seeded
    * order. The mix puts p50 inside the middle-level class and p90 inside
    * the full-resolution class, so neither sits on a class boundary.
    * Seeds vary where a box lies, not how many chunks it needs: a
    * full-resolution box straddles a chunk boundary on every axis (8 of
    * the level's 27 chunks), a middle-level box lies inside one chunk
    * (1 of 8), a thumbnail is the level's only chunk.
    */
  val requests: Seq[Req] = {
    def axis(k: Long, size: Int, edge: Int, straddle: Boolean): Int = {
      val u = Rng.unit(ctx.seed * 5 + 11, 2 * k)
      val v = Rng.unit(ctx.seed * 5 + 11, 2 * k + 1)
      if (straddle) {
        val bounds = (chunk until size by chunk).toIndexedSeq
        val b = bounds((u * bounds.length).toInt)
        val lo = math.max(0, b - edge + 1)
        lo + (v * (math.min(b - 1, size - edge) - lo + 1)).toInt
      } else {
        val starts = (0 until size by chunk).toIndexedSeq
        val c = starts((u * starts.length).toInt)
        c + (v * (math.min(c + chunk, size) - edge - c + 1)).toInt
      }
    }
    def at(k: Int, scale: Int, edge: Int): Req =
      Req(scale, (0 until 3).map(d => axis(3L * k + d, n >> scale, edge, straddle = scale == 0)), edge)
    val mix = (0 until 3).map(at(_, 0, box)) ++ (3 until 16).map(at(_, 1, chunk * 3 / 8)) ++
      Seq.fill(2)(Req(2, Seq(0, 0, 0), n >> 2))
    mix.zipWithIndex.sortBy { case (_, i) => Rng.mix(ctx.seed * 13 + i) }.map(_._1)
  }

  private val planMs = scala.collection.mutable.ArrayBuffer.empty[Double]
  private val parts = scala.collection.mutable.ArrayBuffer.empty[Double]
  private val decodedMB = scala.collection.mutable.ArrayBuffer.empty[Double]
  private var usefulChunks = 0L
  private var decodedChunks = 0L
  /** Per op: MB of voxels returned. */
  private val returned = scala.collection.mutable.Map.empty[Int, Double]
  private val storeMB = scala.collection.mutable.ArrayBuffer.empty[Double]

  def roundSize: Int = requests.length
  def warmupRounds: Int = 1
  def discardInputs(): Unit = StoreReader.delete(store)

  def prepare(): Unit = {
    val base = chunkRows(ctx.spark, vol, chunk, 2 * ctx.cores)
    val ms = MultiscaleBuilder.toMultiscales(ctx.spark, MultiscaleBuilder.Level(Imaging.meta(n, chunk), base),
      Some(Seq(Map("z" -> 2, "y" -> 2, "x" -> 2), Map("z" -> 4, "y" -> 4, "x" -> 4))),
      Method.ItkwasmBinShrink)
    OmeZarrIO.writeMultiscales(ctx.spark, store.toString, ms, version = "0.4", compressor = Some("blosc"))
    ms.levels.foreach(_.chunks.unpersist(blocking = true))
    storeMB += StoreReader.footprint(store)._1 / 1e6
  }

  def run(op: Int, j: Int): Out = {
    val r = requests(j)
    val hi = r.lo.map(_ + r.edge)
    val o = col("origin"); val s = col("shape")
    val (df, planS) = time {
      val df = ctx.spark.read.format("omezarr").load(store.toString)
        .where(col("scale") === r.scale &&
          (0 until 3).map(d => o.getItem(d) < hi(d) && o.getItem(d) + s.getItem(d) > r.lo(d)).reduce(_ && _))
        .select("origin", "shape", "data")
      // traced run only: plan the query (pushdown, physical plan, input
      // partitions) before collect, which then runs this same plan
      if (ctx.traced) scans(df).foreach(_.partitions)
      df
    }
    val out = new Array[Int](r.edge * r.edge * r.edge)
    val rows = df.collect()
    if (ctx.traced && op >= 0) scanProbe(r, df, planS)
    returned(op) = out.length * 2 / 1e6
    rows.foreach { row =>
      val origin = row.getSeq[Long](0).map(_.toInt)
      val shape = row.getSeq[Int](1)
      val data = ByteBuffer.wrap(row.getAs[Array[Byte]](2)).order(ByteOrder.LITTLE_ENDIAN)
      for (z <- 0 until shape(0); y <- 0 until shape(1); x <- 0 until shape(2)) {
        val v = data.getShort() & 0xffff
        val bz = origin(0) + z - r.lo(0); val by = origin(1) + y - r.lo(1); val bx = origin(2) + x - r.lo(2)
        if (bz >= 0 && bz < r.edge && by >= 0 && by < r.edge && bx >= 0 && bx < r.edge)
          out((bz * r.edge + by) * r.edge + bx) = v
      }
    }
    out
  }

  /** The DSv2 scans of a query's executed plan. */
  private def scans(df: DataFrame): Seq[BatchScanExec] = (df.queryExecution.executedPlan match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case p => p
  }).collect { case b: BatchScanExec => b }

  /** Source layer of one request, read off the query that ran: its
    * planning time, the input partitions (one chunk each) its scan
    * decoded, and how many of those chunks the box actually needs.
    */
  private def scanProbe(r: Req, df: DataFrame, planS: Double): Unit = {
    val planned = scans(df).flatMap(_.partitions.flatten)
    require(planned.nonEmpty, "the read's executed plan has no omezarr scan")
    planMs += planS * 1e3
    parts += planned.length
    decodedMB += planned.map {
      case p: graft.sources.OmeZarrInputPartition =>
        val extent = (0 until 3).map(d => math.min(p.chunks(d).toLong, p.shape(d) - p.idx(d).toLong * p.chunks(d)))
        extent.product * p.dtype.filter(_.isDigit).toInt / 8
      case other => sys.error(s"unknown scan partition ${other.getClass.getName}")
    }.sum / 1e6
    val c = math.min(chunk, n >> r.scale)
    usefulChunks += (0 until 3).map(d => (r.lo(d) + r.edge - 1) / c - r.lo(d) / c + 1).product
    decodedChunks += planned.length
  }

  def check(op: Int, j: Int, out: Out): Unit = {
    val r = requests(j)
    val size = n >> r.scale
    val ref = reference(r.scale)
    for (z <- 0 until r.edge; y <- 0 until r.edge; x <- 0 until r.edge) {
      val want = ref(((r.lo(0) + z) * size + r.lo(1) + y) * size + r.lo(2) + x)
      val got = out((z * r.edge + y) * r.edge + x)
      if (got != want)
        sys.error(s"scale ${r.scale} voxel ${(r.lo(0) + z, r.lo(1) + y, r.lo(2) + x)} is $got, reference $want")
    }
  }

  def release(out: Out): Unit = ()

  def endToEnd(ops: Seq[Op]): Map[String, Metric] = Map(
    "write_MBps" -> Metric(Stats.median(ops.map(o => returned(o.index) / o.wallS)), "MB/s"),
    "store_MB" -> Metric(Stats.median(storeMB.toSeq), "MB"),
    "dedup_docs_per_s" -> Metric(ops.length / ops.map(_.wallS).sum, "docs/s")) ++
    Metrics.latency(ops)

  def describe: Seq[(String, String)] = Seq(
    "volume" -> s"$n^3 uint16, same generator as pyramid_write",
    "store" -> (s"OME-Zarr v0.4 (Zarr v2), chunks $chunk^3, blosc lz4 clevel 5 byte shuffle, " +
      s"bin-shrink levels ${(0 until 3).map(n >> _).mkString("/")}"),
    "round" -> requests.groupBy(r => (r.scale, r.edge)).toSeq.sortBy(_._1)
      .map { case ((s, e), rs) => s"${rs.length} x $e^3 at scale $s" }.mkString(", "))

  def layers(ops: Seq[Op]): Map[String, Double] = {
    val raw = (for (z <- 0 until n / chunk; y <- 0 until n / chunk; x <- 0 until n / chunk)
      yield vol.blockBytes(Seq(z, y, x).map(_.toLong * chunk), Seq(chunk, chunk, chunk)))
    val (codec, enc) = codecProbe(raw, "blosc")
    val open = metaProbe {
      val st = new ZarrStore(store.toString)
      require(st.exists(".zattrs"))
      val cons = ZarrJson.parseConsolidatedV2(st.readString(".zmetadata"))
      ZarrJson.parseMultiscales(st.readString(".zattrs")).datasets
        .foreach(d => ZarrJson.parseZarrayV2(cons(s"${d.path}/.zarray")))
    }
    codec ++ storeProbe(ctx.work.resolve("probe-store"), enc) ++ Map(
      "meta.open_ms" -> open,
      "sources.plan_ms" -> Stats.median(planMs.toSeq),
      "sources.partitions_per_read" -> Stats.median(parts.toSeq),
      "sources.decoded_MB_per_read" -> Stats.median(decodedMB.toSeq),
      "sources.useful_chunk_ratio" -> usefulChunks.toDouble / decodedChunks)
  }
}

/** Near-duplicate detection over a seeded corpus: MinHash/LSH with the
  * AUTO hot-bucket decision, exact verification, connected components
  * and canonical selection. The control workload: it touches no store,
  * codec or imaging operator.
  */
final class TextDedupWorkload(ctx: Ctx) extends Workload {
  final case class Result(pairs: Array[(Long, Long, Double)], armed: Boolean,
      clusters: Array[(Long, Long)], canonical: Array[(Long, Long)])
  type Out = Result

  private val corpus =
    if (ctx.smoke) Corpus(ctx.seed * 3 + 3, singles = 300, families = 30, decoys = 10, vocab = 500)
    else Corpus(ctx.seed * 3 + 3, singles = 1000, families = 100, decoys = 100, vocab = 5000)
  private var docs: DataFrame = _
  private lazy val shingles = corpus.texts.map(Corpus.shingles)
  private val pairCounts = scala.collection.mutable.Map.empty[Int, Long]
  private val corpusMB = corpus.texts.map(_.length.toLong).sum / 1e6
  private val cachedMB = scala.collection.mutable.ArrayBuffer.empty[Double]
  private var armedSeen = false

  def roundSize: Int = 1
  // the first passes pay for JIT and codegen: after two, the third still
  // ran ~10 % slower than the fourth
  def warmupRounds: Int = 3
  def discardInputs(): Unit = if (docs != null) docs.unpersist(blocking = true)

  def prepare(): Unit = {
    import ctx.spark.implicits._
    docs = corpus.texts.indices.map(i => (i.toLong, corpus.texts(i))).toDF("doc_id", "text")
      .repartition(ctx.cores).persist(StorageLevel.MEMORY_ONLY)
    docs.count()
    // the corpus is the only cached data at this point
    cachedMB += ctx.spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1e6
  }

  def run(op: Int, j: Int): Out = {
    val (pairs, armed, pairRows) = ctx.phase(op, "ops.minhash") {
      val (p, a) = TextDedup.minHashNearDupsWithDecision(docs, minJaccard = 0.8, hotBucketThreshold = -1)
      (p, a, p.select("doc_a", "doc_b", "jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))))
    }
    val (cc, ccRows) = ctx.phase(op, "ops.cc") {
      val cc = TextDedup.connectedComponents(pairs.select("doc_a", "doc_b"), docs.select("doc_id"))
      (cc, cc.collect().map(r => (r.getLong(0), r.getLong(1))))
    }
    val keep = ctx.phase(op, "ops.canonical") {
      val sized = docs.select(col("doc_id"), length(col("text")).as("n_chars"))
      cc.join(sized, "doc_id").groupBy(col("cluster_id"))
        .agg(min(struct(negate(col("n_chars")), col("doc_id"))).getField("doc_id").as("canonical_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
    }
    Result(pairRows, armed, ccRows, keep)
  }

  def check(op: Int, j: Int, out: Out): Unit = {
    val c = corpus
    require(out.armed, s"salted hot-bucket path did not arm for a ${c.clique}-doc clique " +
      s"(threshold ${c.hotThreshold})")
    armedSeen = out.armed
    pairCounts(op) = out.pairs.length
    val seen = new java.util.HashSet[(Long, Long)]()
    var family = 0L
    var clique = 0L
    out.pairs.foreach { case (a, b, jac) =>
      require(a < b && seen.add((a, b)), s"pair ($a, $b) out of order or repeated")
      require(c.decoy(a.toInt) < 0 || c.decoy(a.toInt) != c.decoy(b.toInt),
        s"pair ($a, $b) is a decoy pair (shingle Jaccard below 0.8) that verification kept")
      val exact =
        if (c.texts(a.toInt) == c.texts(b.toInt)) 1.0
        else Corpus.jaccard(shingles(a.toInt), shingles(b.toInt))
      require(exact >= 0.8, s"pair ($a, $b) has shingle Jaccard $exact < 0.8")
      require(math.abs(exact - jac) <= 1e-9, s"pair ($a, $b) reported Jaccard $jac, exact $exact")
      val (ga, gb) = (c.group(a.toInt), c.group(b.toInt))
      if (ga == gb && ga == Corpus.Clique) clique += 1
      else if (ga == gb) family += 1
    }
    require(clique == c.cliquePairs, s"clique pairs: $clique of ${c.cliquePairs}")
    require(family >= c.familyPairs - math.max(1L, c.familyPairs / 1000),
      s"planted pairs below the LSH recall floor: $family of ${c.familyPairs}")

    require(out.clusters.length == c.docs && out.clusters.map(_._1).distinct.length == c.docs,
      s"components cover ${out.clusters.length} rows for ${c.docs} docs")
    val byCluster = out.clusters.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    require(byCluster.size == c.expectedClusters,
      s"${byCluster.size} clusters, the plant has ${c.expectedClusters}")
    byCluster.values.foreach { ids =>
      require(ids.map(i => c.group(i.toInt)).distinct.length == 1, s"cluster mixes planted groups: ${ids.take(5).toSeq}")
    }
    // canonical: the longest text of each cluster, ties to the smallest id
    require(out.canonical.length == byCluster.size, s"${out.canonical.length} canonicals for ${byCluster.size} clusters")
    out.canonical.foreach { case (cluster, keep) =>
      val ids = byCluster.getOrElse(cluster, sys.error(s"canonical for unknown cluster $cluster"))
      val want = ids.minBy(i => (-c.texts(i.toInt).length, i))
      require(keep == want, s"cluster $cluster canonical $keep, expected $want")
    }
  }

  def release(out: Out): Unit = ()

  def endToEnd(ops: Seq[Op]): Map[String, Metric] = Map(
    "write_MBps" -> Metric(Stats.median(ops.map(corpusMB / _.wallS)), "MB/s"),
    "store_MB" -> Metric(Stats.median(cachedMB.toSeq), "MB"),
    "dedup_docs_per_s" -> Metric(Stats.median(ops.map(corpus.docs / _.wallS)), "docs/s")) ++
    Metrics.latency(ops)

  def describe: Seq[(String, String)] = Seq(
    "docs" -> corpus.docs.toString,
    "families" -> s"${corpus.families} families of 2-4 near-copies, ${corpus.familyPairs} planted pairs",
    "decoys" -> (s"${corpus.decoys} families of 2-4 docs sharing all but ${Corpus.DecoyTail} words, " +
      s"${corpus.decoyPairs} pairs below the 0.8 threshold"),
    "clique" -> s"${corpus.clique} identical docs, AUTO hot-bucket threshold ${corpus.hotThreshold}",
    "text" -> s"${Corpus.Words} words per doc, Zipf(1.0) vocabulary of ${if (ctx.smoke) 500 else 5000} words")

  def layers(ops: Seq[Op]): Map[String, Double] = {
    val idx = ops.map(_.index)
    ctx.tag(-2, "ops.lsh")
    val candidates = TextDedup.lshCandidatesWithDecision(
      TextDedup.signaturesFromSets(TextDedup.shingleSets(docs, "doc_id", "text", 3), 64),
      16, 4, hotBucketThreshold = -1)._1.count()
    val verified = Stats.median(ops.map(o => pairCounts(o.index).toDouble))
    Map(
      "ops.minhash_s" -> ctx.phaseMedian(idx, "ops.minhash"),
      "ops.minhash_cpu_s" -> ctx.phaseCounter(idx, "ops.minhash")(_.executorCpuNs / 1e9),
      "ops.cc_s" -> ctx.phaseMedian(idx, "ops.cc"),
      "ops.lsh_candidates" -> candidates.toDouble,
      "ops.pairs_verified" -> verified,
      "ops.candidate_yield" -> verified / candidates,
      "ops.salted_armed" -> (if (armedSeen) 1.0 else 0.0))
  }
}
