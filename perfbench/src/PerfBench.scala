package perfbench

import graft.core.{DedupConfig, ImageRow, Sessions, VerifiedPair}
import graft.pipeline.{DedupPipeline, IncrementalDedup, RestoreOps, Retention}
import graft.synth.{CorpusGen, RecallGate}
import java.io.File
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable

/** Benchmark of record: drives the engine's public API from one JVM at
  * local[cores] and prints one JSON result line (see perfbench/NOTES.md).
  *
  *   PerfBench --workload chain|roundtrip --seed N --seconds S
  *             --trace 0|1 --work DIR --cores C
  *
  * `--trace 0` times the operations as a user runs them and reports the
  * end-to-end metrics; `--trace 1` runs the same workload with a
  * listener, one job group per layer call and every layer's output
  * materialised at its boundary, and reports the per-layer metrics. */
object PerfBench {

  private val cfg = DedupConfig.default
  private val lvl = StorageLevel.MEMORY_AND_DISK_SER

  /** Input shape of one workload: corpus groups (8 images each; for
    * `chain`, per batch) and the timed operations a run makes at least,
    * however fast they get. */
  final case class Workload(name: String, groups: Int, minOps: Int)

  val Workloads: Map[String, Workload] = Seq(
    Workload("chain", groups = 125, minOps = 2),
    Workload("roundtrip", groups = 1000, minOps = 2)
  ).map(w => w.name -> w).toMap

  val ShufflePartitions = 16

  val Layers = Seq("signatures", "buckets", "candidates", "verify", "cluster",
    "ingest", "retention", "restore")

  final case class Args(workload: Workload, seed: Long, seconds: Double, trace: Boolean,
      work: String, cores: Int)

  private def parseArgs(args: Array[String]): Args = {
    val m = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => sys.error(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    val wl = Workloads.getOrElse(need("workload"),
      sys.error(s"unknown workload ${need("workload")}; one of ${Workloads.keys.mkString(", ")}"))
    val trace = need("trace") match {
      case "0" => false
      case "1" => true
      case t => sys.error(s"--trace must be 0 or 1, not $t")
    }
    launched = need("launched").toDouble
    Args(wl, need("seed").toLong, need("seconds").toDouble, trace, need("work"), need("cores").toInt)
  }

  // ---- inputs --------------------------------------------------------

  /** The standard planted mix: CorpusGen's cycle of five group patterns. */
  def standardMix(from: Int, until: Int): Seq[Long] = (from until until).map(_.toLong)

  /** Skew-heavier mix: of every 8 groups, 4 are the boilerplate pattern
    * (one hot caption bucket shared across the whole chain) and one each
    * of the other four patterns. Group ids stay distinct, so image ids
    * never collide across batches. */
  def skewMix(from: Int, until: Int): Seq[Long] = (from until until).map { j =>
    val (m, r) = (j / 8, j % 8)
    if (r < 4) 5L * (4 * m + r) + 4 else 5L * (4 * m + r - 4) + (r - 4)
  }

  /** Write the groups' images as parquet under `path`; returns the rows. */
  def writeCorpus(spark: SparkSession, groups: Seq[Long], seed: Long, path: String,
      slices: Int): Dataset[ImageRow] = {
    import spark.implicits._
    spark.createDataset(spark.sparkContext.parallelize(groups, slices))
      .flatMap(k => CorpusGen.genGroup(seed, k))
      .write.mode("overwrite").parquet(path)
    spark.read.parquet(path).as[ImageRow]
  }

  private def imageId(n: Long): String = f"img$n%010d"

  // ---- output checks --------------------------------------------------

  /** Problems in one cluster assignment over `groups`: every image is
    * assigned exactly once, cluster_id is the minimum member id, every
    * planted pair shares a cluster, all boilerplate rows form one
    * cluster and no near-miss negative joins it. */
  def oneshotProblems(assign: Array[(String, String)], groups: Seq[Long]): Seq[String] = {
    val bad = mutable.ArrayBuffer.empty[String]
    val byId = assign.toMap
    val want = groups.flatMap(k => (0 until CorpusGen.GroupSize).map(t => imageId(k * CorpusGen.GroupSize + t)))
    if (assign.length != want.length || byId.size != want.length)
      bad += s"${assign.length} assignments (${byId.size} distinct) for ${want.length} images"
    val missing = want.count(id => !byId.contains(id))
    if (missing > 0) bad += s"$missing images unassigned"
    val notMin = assign.groupBy(_._2).count { case (cid, ms) => ms.map(_._1).min != cid }
    if (notMin > 0) bad += s"$notMin clusters whose id is not their minimum member"
    def c(k: Long, t: Int) = byId.getOrElse(imageId(k * CorpusGen.GroupSize + t), s"?$k/$t")
    val boiler = mutable.Set.empty[String]
    var split = 0
    for (k <- groups) {
      val pairs = (k % 5).toInt match {
        case 1 => Seq(0 -> 1, 0 -> 2) // exact, re-encode
        case 2 => Seq(0 -> 1, 0 -> 2) // pixel jitter, caption edit
        case 3 => Seq(0 -> 1, 1 -> 2) // substring, chain edit
        case 4 => Seq(0 -> 1, 0 -> 2, 0 -> 3) // boilerplate
        case _ => Seq.empty
      }
      split += pairs.count { case (a, b) => c(k, a) != c(k, b) }
      if (k % 5 == 4) boiler += c(k, 0)
    }
    if (split > 0) bad += s"$split planted pairs split across clusters"
    if (boiler.size > 1) bad += s"boilerplate rows in ${boiler.size} clusters"
    val negIn = groups.count(k => k % 5 == 4 && boiler.contains(c(k, 4)))
    if (negIn > 0) bad += s"$negIn near-miss negatives joined the boilerplate cluster"
    bad.toSeq
  }

  def recallGateProblems(spark: SparkSession): Seq[String] = {
    val r = RecallGate.report(spark, cfg).collect().head
    val flags = Seq("pairs_found", "recall_ok", "precision_ok").map(f => f -> r.getAs[Int](f))
    flags.collect { case (f, v) if v != 1 => s"RecallGate $f=$v" }
  }

  def roundtripProblems(report: DataFrame): Seq[String] = {
    val r = report.collect()
    if (r.length != 1) Seq(s"report has ${r.length} rows")
    else {
      val row = r.head
      val (all, pv, cv) = (row.getAs[Long]("all_restored"), row.getAs[Long]("psnr_violations"),
        row.getAs[Long]("caption_violations"))
      if (all == 1L && pv == 0L && cv == 0L) Seq.empty
      else Seq(s"all_restored=$all psnr_violations=$pv caption_violations=$cv")
    }
  }

  // ---- statistics -------------------------------------------------------

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** "median m n=k" plus the highest percentile with at least ten
    * samples beyond it, when there is one. */
  def describe(xs: Seq[Double]): String = {
    val s = xs.sorted
    val n = s.length
    val tail =
      if (n <= 10) "no percentile with ten samples beyond it"
      else {
        val k = n - 10
        f"p${100 * k / n}=${s(k - 1)}%.4f"
      }
    f"median=${median(xs)}%.4f n=$n $tail"
  }

  // ---- workloads ---------------------------------------------------------

  /** Timing state of one run. `ops` are the timed operation walls. */
  final class Run(val a: Args, val spark: SparkSession) {
    val ops = mutable.ArrayBuffer.empty[Double]
    var attempted = 0
    var failed = 0
    val problems = mutable.ArrayBuffer.empty[String]
    var setupS = 0.0
    val info = mutable.ArrayBuffer.empty[String]
    val endToEnd = mutable.LinkedHashMap.empty[String, (Double, String)]
    val perLayer = mutable.LinkedHashMap.empty[String, (Double, String)]
    var imagesPerS = 0.0
    var tracer: Tracer = null
    private var measured = 0.0
    private var timedOps = 0

    def data(name: String): String = s"${a.work}/data/$name"

    /** Record a failed check of operation `what` (failed ops count
      * against attempted ones). */
    def check(what: String, issues: Seq[String], countsAsOp: Boolean = true): Unit = {
      if (issues.nonEmpty) {
        if (countsAsOp) failed += 1
        problems ++= issues.map(i => s"$what: $i")
      }
    }

    def timed[T](body: => T): (T, Double) = {
      val g0 = gcMs
      val t0 = System.nanoTime()
      val r = body
      val dt = (System.nanoTime() - t0) / 1e9
      measured += dt
      timedOps += 1
      info += f"timed operation $timedOps: $dt%.3f s, gc ${(gcMs - g0) / 1e3}%.3f s"
      (r, dt)
    }

    def timeLeft: Boolean = measured < a.seconds

    /** JIT and codegen warm-up: the operation, untimed, before the first
      * timed one. The JIT is still far from steady after it, so each timed
      * operation tends to be a little faster than the one before; a fixed
      * warm-up keeps every run at the same point of that curve. */
    def warmUp(body: => Any): Unit = {
      val t0 = System.nanoTime()
      body
      info += f"warm-up: ${(System.nanoTime() - t0) / 1e9}%.3f s"
    }
  }

  /** Seconds since the launcher started the JVM (`--launched`, epoch
    * seconds); microsecond resolution. */
  private var launched = 0.0
  private def gcMs: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
  }

  private def jvmUptimeS: Double = {
    val now = java.time.Instant.now()
    now.getEpochSecond + now.getNano / 1e9 - launched
  }

  /** Run operations `from`, `from + 1`, ... until the time is used,
    * at least the workload's minOps of them. `before(i)`
    * prepares operation i and `after(i, out)` checks its output, both
    * off the clock. Untraced, `op(i, None)` is timed as a user runs it.
    * Traced, untraced and traced operations alternate, starting and
    * ending with an untraced one: a traced one gets `op(i, Some(span))`
    * and calls its layers in spans; the two untraced ones around it are
    * its overhead baseline and give the job count per operation. */
  def opLoop[T](r: Run, from: Int = 0, before: Int => Unit = _ => ())(
      op: (Int, Option[Tracer.Span]) => T)(after: (Int, T) => Unit): Unit = {
    def traced(k: Int) = r.a.trace && (k - from) % 2 == 1
    var i = from
    while (i - from < r.a.workload.minOps || r.timeLeft || traced(i - 1)) {
      before(i)
      r.attempted += 1
      val (out, dt) = r.timed {
        if (!r.a.trace) op(i, None)
        else r.tracer.span(if (traced(i)) "op" else "op-untraced", i, -1, tagJobs = !traced(i)) { s =>
          op(i, if (traced(i)) Some(s) else None)
        }._1
      }
      r.ops += dt
      after(i, out)
      i += 1
    }
  }

  def roundtrip(r: Run): Unit = {
    val spark = r.spark
    val groups = standardMix(0, r.a.workload.groups)
    val images = writeCorpus(spark, groups, r.a.seed, r.data("roundtrip"), 2 * r.a.cores)
    val n = images.count()
    r.info += f"input written at ${jvmUptimeS}%.3f s"
    // two warm-ups: after one, the next ops run about 7, 6 and 5 s at
    // 8,000 images, and the timed ones would sit where the curve is steepest
    for (_ <- 1 to 2) r.warmUp(RestoreOps.roundTrip(images, cfg).collect())
    r.setupS = jvmUptimeS

    opLoop(r)((_, s) => s.fold(RestoreOps.roundTrip(images, cfg))(stagedRoundtrip(r, images, _))) { (i, rep) =>
      r.check(s"op $i", roundtripProblems(rep))
      spark.catalog.clearCache()
    }
    r.imagesPerS = n / median(r.ops.toSeq)
  }

  /** RestoreOps.roundTrip through its public layer functions. */
  def stagedRoundtrip(r: Run, images: Dataset[ImageRow], op: Tracer.Span): DataFrame = {
    val t = r.tracer
    val (nCand, ver) = stagedUpToVerify(r, images, op)
    val (cc0, edges) = t.span("cluster", op.op, op.id, tagJobs = true) { _ =>
      val e = RestoreOps.pixelEvidence(ver, cfg).persist(lvl)
      val c = RestoreOps.contentClustersFromEdges(images, e, Some(nCand)).persist(lvl)
      c.count()
      (c, e)
    }._1
    t.span("restore", op.op, op.id, tagJobs = true) { _ =>
      val cc = RestoreOps.fidelityRepair(images, cc0, cfg, Some(edges)).persist(lvl)
      cc.count()
      val restored = RestoreOps.restore(RestoreOps.recipes(images, cc), RestoreOps.contentStore(images, cc))
      RestoreOps.roundtripReport(images, restored, cfg).localCheckpoint()
    }._1
  }

  /** signatures → buckets → candidates → verify, each materialised;
    * returns the candidate count and the verified pairs. */
  def stagedUpToVerify(r: Run, images: Dataset[ImageRow], op: Tracer.Span)
      : (Long, Dataset[VerifiedPair]) = {
    val t = r.tracer
    def layer[T](name: String)(body: => T) = t.span(name, op.op, op.id, tagJobs = true)(_ => body)
    val (sigs, _) = layer("signatures") {
      val s = DedupPipeline.signatures(images, cfg).persist(lvl); s.count(); s
    }
    val ((bk, nPost), bs) = layer("buckets") {
      val b = DedupPipeline.buckets(sigs, cfg).persist(lvl); (b, b.count())
    }
    t.count(bs, "postings", nPost.toDouble)
    val ((cand, nCand), cs) = layer("candidates") {
      val c = DedupPipeline.candidates(bk, cfg).persist(lvl); (c, c.count())
    }
    t.count(cs, "pairs", nCand.toDouble)
    val ((ver, nVer), vs) = layer("verify") {
      val v = DedupPipeline.verify(cand, sigs, images, cfg).persist(lvl); (v, v.count())
    }
    t.count(vs, "pairs", nVer.toDouble)
    (nCand, ver)
  }

  def chain(r: Run): Unit = {
    val spark = r.spark
    val g = r.a.workload.groups
    import spark.implicits._
    def batch(i: Int): Dataset[ImageRow] =
      writeCorpus(spark, skewMix(i * g, (i + 1) * g), r.a.seed, r.data(s"input/batch=$i"), r.a.cores)
    def runId(i: Int) = f"b$i%03d"
    val storeDir = r.data("store")
    val inc = new IncrementalDedup(spark, storeDir, cfg)
    var surviving = 0L
    var input: Dataset[ImageRow] = null
    var inputImages = 0L
    def prepare(i: Int): Unit = {
      input = batch(i).cache()
      inputImages = input.count()
    }
    /** Clusters_current after a batch has one row per surviving image. */
    def ingested(i: Int, out: DataFrame, countsAsOp: Boolean): Unit = {
      surviving += inputImages
      input.unpersist()
      val cnt = out.agg(count(lit(1)), countDistinct("image_id")).head()
      r.check(s"batch $i", Seq(cnt.getLong(0), cnt.getLong(1)).distinct.filter(_ != surviving)
        .map(c => s"clusters_current has $c rows/ids for $surviving images"), countsAsOp)
    }

    // set-up: the chain's base version into the empty store, then one
    // store-probe batch, so the timed batches start past the compile of
    // the probe path
    for (i <- 0 to 1) {
      prepare(i)
      ingested(i, inc.ingest(input, runId(i)), countsAsOp = false)
    }
    r.setupS = jvmUptimeS
    r.info += f"set-up done at ${r.setupS}%.3f s"

    // timed: expire the base version, then store-probe batches 2, 3, ...
    val t = r.tracer
    val dropped = spark.read.parquet(r.data("input/batch=0")).count()
    r.attempted += 1
    val (rep, expireS) = r.timed {
      val expire = () => new Retention(spark, storeDir, cfg).expire(Seq(runId(0)), "gc-0")
      if (!r.a.trace) expire()
      else t.span("op-expire", 1, -1, tagJobs = false) { s =>
        t.span("retention", 1, s.id, tagJobs = true)(_ => expire())._1
      }._1
    }
    surviving -= dropped
    r.check("expire", if (rep.droppedImages == dropped) Seq.empty
      else Seq(s"dropped ${rep.droppedImages} images, batch had $dropped"))
    var nBatches = 2
    opLoop(r, from = 2, before = prepare) { (i, op) =>
      def ingest() = inc.ingest(input, runId(i))
      op.fold(ingest())(s => t.span("ingest", i, s.id, tagJobs = true)(_ => ingest())._1)
    } { (i, out) =>
      ingested(i, out, countsAsOp = true)
      nBatches = i + 1
    }
    val batchS = r.ops.toSeq
    r.imagesPerS = batchS.length * g * CorpusGen.GroupSize / (batchS.sum + expireS)

    // the chain property, off the clock: clusters_current equals a
    // one-shot run over the surviving batches, and that run passes the
    // planted-structure checks
    val survivors = (1 until nBatches).map(j => spark.read.parquet(r.data(s"input/batch=$j")).as[ImageRow])
      .reduce(_ union _)
    val oneShot = DedupPipeline.run(survivors, cfg).collect().map(c => (c.image_id, c.cluster_id)).sorted
    r.check("one-shot over survivors", oneshotProblems(oneShot, skewMix(g, nBatches * g)),
      countsAsOp = false)
    val got = inc.clusters.select("image_id", "cluster_id").as[(String, String)].collect().sorted
    r.check("chain", if (oneShot.sameElements(got)) Seq.empty
      else Seq(s"clusters_current (${got.length} rows) differs from the one-shot run (${oneShot.length} rows)"),
      countsAsOp = false)
    r.check("RecallGate", recallGateProblems(spark), countsAsOp = false)
    r.info += f"chain checks done at ${jvmUptimeS}%.3f s"

    val storeBytes = dirBytes(new File(storeDir))
    val bytesPerImage = storeBytes.toDouble / surviving
    r.info += s"chain batch_s: ${batchS.map(x => f"$x%.3f").mkString(" ")}"
    r.info += f"chain: $nBatches batches of ${g * CorpusGen.GroupSize} images, expire_s=$expireS%.4f, " +
      f"store_bytes=$storeBytes ($bytesPerImage%.1f per surviving image)"
    r.perLayer("ingest.store_bytes_per_image") = (bytesPerImage, "B")
  }

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L) else f.length()

  // ---- reporting ------------------------------------------------------------

  /** Per-layer metrics of the traced ops: per op, sum each layer's
    * spans; across ops, the median. Layers a workload does not call
    * read 0. */
  def layerMetrics(r: Run, images: Double): Unit = {
    val t = r.tracer
    t.drain()
    val traced = t.spans.filter(s => s.parent == -1 && s.name == "op")
    val untraced = t.spans.filter(s => s.parent == -1 && s.name == "op-untraced")
    val children = t.spans.groupBy(_.parent)
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else median(xs)
    val cores = r.a.cores.toDouble
    for (layer <- Layers) {
      // per traced op (retention: per expire op) the summed stats
      val perOp = t.spans.filter(s => s.parent >= 0 && s.name == layer).groupBy(_.parent).values.map { ss =>
        val st = ss.map(t.stats)
        (st.map(_.wallS).sum, st.map(_.jobs).sum.toDouble, st.map(_.tasks).sum.toDouble,
          st.map(_.taskS).sum, st.map(_.gcS).sum, st.map(_.shuffleWriteBytes).sum.toDouble,
          st.map(_.spillBytes).sum.toDouble, st.map(_.driverIdleS).sum,
          st.map(_.inputBytes).sum.toDouble, st.map(_.outputBytes).sum.toDouble)
      }.toSeq
      def m(f: ((Double, Double, Double, Double, Double, Double, Double, Double, Double, Double)) => Double) =
        med(perOp.map(f))
      val wall = m(_._1)
      val taskS = m(_._4)
      r.perLayer(s"$layer.wall_s") = (wall, "s")
      r.perLayer(s"$layer.jobs") = (m(_._2), "count")
      r.perLayer(s"$layer.tasks") = (m(_._3), "count")
      r.perLayer(s"$layer.task_s") = (taskS, "s")
      r.perLayer(s"$layer.gc_s") = (m(_._5), "s")
      r.perLayer(s"$layer.busy_share") = (if (wall > 0) taskS / (wall * cores) else 0.0, "ratio")
      r.perLayer(s"$layer.shuffle_write_bytes") = (m(_._6), "B")
      r.perLayer(s"$layer.spill_bytes") = (m(_._7), "B")
      r.perLayer(s"$layer.driver_idle_s") = (m(_._8), "s")
      if (layer == "ingest") {
        r.perLayer("ingest.input_bytes") = (m(_._9), "B")
        r.perLayer("ingest.output_bytes") = (m(_._10), "B")
      }
    }
    def counter(layer: String, name: String): Double = med(
      t.spans.filter(_.name == layer).flatMap(s => t.counters.filter(c => c.span == s.id && c.name == name))
        .map(_.value).toSeq)
    val postings = counter("buckets", "postings")
    val candPairs = counter("candidates", "pairs")
    val verPairs = counter("verify", "pairs")
    r.perLayer("buckets.postings_per_image") = (postings / images, "count")
    r.perLayer("candidates.pairs") = (candPairs, "count")
    r.perLayer("verify.pairs") = (verPairs, "count")
    r.perLayer("candidates.pairs_per_verified") = (if (verPairs > 0) candPairs / verPairs else 0.0, "ratio")

    def wall(s: Tracer.Span) = (s.endMs - s.startMs) / 1e3
    val opWall = med(traced.map(wall).toSeq)
    val layersS = med(traced.map(s => children.getOrElse(s.id, Seq.empty).map(wall).sum).toSeq)
    val untracedWall = med(untraced.map(wall).toSeq)
    // each traced op against the mean of the untraced ops just before
    // and after it, so both sides sit at the same point of the warm-up
    val untracedAt = untraced.map(s => s.op -> wall(s)).toMap
    val overheads = traced.flatMap(s =>
      for (a <- untracedAt.get(s.op - 1); b <- untracedAt.get(s.op + 1)) yield wall(s) - (a + b) / 2)
    if (!r.perLayer.contains("ingest.store_bytes_per_image")) r.perLayer("ingest.store_bytes_per_image") = (0.0, "B")
    r.perLayer("trace.op_wall_s") = (opWall, "s")
    r.perLayer("trace.layers_s") = (layersS, "s")
    r.perLayer("trace.nonlayer_s") = (opWall - layersS, "s")
    r.perLayer("trace.untraced_op_s") = (untracedWall, "s")
    r.perLayer("trace.overhead_s") = (med(overheads.toSeq), "s")
    r.perLayer("trace.untraced_jobs_per_op") = (med(untraced.map(s => t.stats(s).jobs.toDouble).toSeq), "count")
    r.perLayer("trace.traced_ops") = (traced.length.toDouble, "count")
    r.perLayer("trace.untraced_ops") = (untraced.length.toDouble, "count")
  }

  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse(sys.error("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def main(args: Array[String]): Unit = {
    val a = parseArgs(args)
    val spark = Sessions.local(a.cores, ShufflePartitions, s"perfbench-${a.workload.name}")
    val r = new Run(a, spark)
    if (a.trace) {
      r.tracer = new Tracer(spark.sparkContext)
      spark.sparkContext.addSparkListener(r.tracer)
    }
    r.info += f"session ready at ${jvmUptimeS}%.3f s after JVM start"
    a.workload.name match {
      case "roundtrip" => roundtrip(r)
      case "chain" => chain(r)
    }
    if (!a.trace) {
      r.info += s"${a.workload.name} op_s: ${describe(r.ops.toSeq)}"
      r.endToEnd("setup_s") = (r.setupS, "s")
      r.endToEnd("peak_rss_mb") = (peakRssMb, "MB")
      r.endToEnd("images_per_s") = (r.imagesPerS, "1/s")
      r.endToEnd("op_s_p50") = (median(r.ops.toSeq), "s")
    } else {
      layerMetrics(r, (a.workload.groups * CorpusGen.GroupSize).toDouble)
      Files.write(Paths.get(a.work, "trace.json"), r.tracer.toJson.getBytes("UTF-8"))
    }
    spark.stop()
    r.problems.foreach(p => r.info += s"CHECK FAILED $p")
    r.info.foreach(l => println(s"# $l"))
    val metrics = (if (a.trace) r.perLayer else r.endToEnd).map { case (k, (v, u)) =>
      k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
    }.toSeq
    println(Json.obj(Seq(
      "correct" -> Json.bool(r.problems.isEmpty),
      "attempted" -> Json.num(r.attempted.toLong),
      "failed" -> Json.num(r.failed.toLong),
      "metrics" -> Json.obj(metrics))))
  }
}
