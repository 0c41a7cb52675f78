package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import graft.operators.SnapshotTxn
import graft.pipelines.FastqPipeline
import graft.streaming.Ingest
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** dropbox_ingest: one dropbox client lands a FASTQ drop — payload,
  * checksum sidecar, then the marker the stream watches — and waits until
  * the drop is registered and readable before landing the next (a closed
  * loop, like an openBIS dropbox handler that processes one drop at a
  * time). Registration is `Ingest.txnStream` (AvailableNow) with a stage
  * callback that runs `FastqPipeline.run` and stages its outcome into
  * `SnapshotTxn`: new datasets appended, rejected rows appended to an
  * errors table, both in one commit.
  *
  * The seed fixes every drop: 70% good, 10% with a bad barcode checksum,
  * 10% for a sample the catalog does not know, 10% re-deliveries of an
  * already registered payload (shares chosen for the benchmark, not
  * measured). Warmup drops come from a seeded stream of their own, so the
  * timed drops are the same in every run of a seed. The model: a good
  * drop is registered once under the next run number of its project; a
  * bad drop is rejected with its error code; a re-delivery commits
  * nothing and changes nothing.
  *
  * Classes: `drop` (marker landed → commit returned and rows readable)
  * and `lookup` (the read-back of the drop's rows, part of the drop). */
object Dropbox extends Workload {
  val Projects = Seq("QABCD", "QEFGH", "QIJKL", "QMNOP")
  val SamplesPerProject = 24
  val Map34 = ('0' to '9') ++ ('A' to 'X')

  /** QBiC checksum character of a 9-character barcode prefix. */
  def checksum(prefix: String): Char =
    Map34((1 to 9).map(i => prefix(i - 1).toInt * i).sum % 34)

  def barcode(project: String, n: Int): String = {
    val p = f"$project$n%03dA"
    p + checksum(p)
  }

  sealed trait Kind
  case object Good extends Kind
  case object BadChecksum extends Kind
  case object UnknownSample extends Kind
  case object Redelivery extends Kind

  final case class Drop(n: Int, kind: Kind, barcode: String, path: String)
  final case class Registered(path: String, code: String, sample: String)

  /** Drop numbers from here on are warmup drops: a stream of their own. */
  val WarmBase = 10000000

  final class State(val root: String) {
    val incoming = s"$root/incoming"
    val markers = s"$root/markers"
    val staging = s"$root/staging"
    val chk = s"$root/checkpoint"
    val txn = s"$root/txn"
    val samples = s"$root/tables/samples"
    val datasets = s"$root/tables/datasets"
    val errors = s"$root/tables/errors"
    // payloads a re-delivery may repeat: setup's, then those the timed
    // (or the warmup) stream registered itself
    val registered = mutable.ArrayBuffer.empty[Registered]
    val warmRegistered = mutable.ArrayBuffer.empty[Registered]
    val runNumber = mutable.Map.empty[String, Long]
    // traced phase
    var drops = 0L
    var replaySkips = 0L
    val rejected = mutable.Map.empty[String, Long].withDefaultValue(0L)
    var filesWritten = 0L
    var bytesWritten = 0L
    var payloadBytes = 0L
  }
  private var st: State = _

  def setup(ctx: Ctx): Unit = {
    val s = new State(s"${ctx.dir}/dropbox")
    Seq(s.incoming, s.markers, s.staging).foreach(d => Files.createDirectories(Paths.get(d)))
    val spark = ctx.spark
    import spark.implicits._
    val r = ctx.rng(1)
    val samples = for (p <- Projects; n <- 1 to SamplesPerProject)
      yield (barcode(p, n), s"SPACE_$p", "Q_TEST_SAMPLE", s"${p}E1")
    // one earlier dataset per project, at a seeded run number
    val earlier = Projects.map { p =>
      val num = 1L + r.nextInt(5)
      s.runNumber(p) = num
      val smp = barcode(p, 1)
      (s"${smp}_$num", "FASTQ", smp, s"incoming/${smp}_earlier_R1.fastq")
    }
    earlier.foreach { case (code, _, smp, path) =>
      s.registered += Registered(path, code, smp)
      s.warmRegistered += Registered(path, code, smp)
    }
    val t = SnapshotTxn.begin(spark, s.txn, claim = true)
    t.stagePublish(samples.toDF("code", "space", "sampleType", "experiment").coalesce(1), s.samples)
    t.stagePublish(earlier.toDF("code", "dsType", "sample", "path").coalesce(1), s.datasets)
    t.stagePublish(Seq(("incoming/earlier.fastq", "", "METADATA_FORMATTING"))
      .toDF("path", "barcode", "code").coalesce(1), s.errors)
    t.commit(tag = Some("setup"))
    st = s
  }

  /** Drops until the good drops' latency levels off. */
  def warm(ctx: Ctx): Unit = {
    ctx.warmUntilLevel(6, 15.0) { k =>
      val d = plan(ctx, WarmBase + k)
      val t = ctx.timed(drop(ctx, d))
      if (d.kind == Good) Some("good" -> t) else None
    }
    ()
  }

  def step(ctx: Ctx, i: Int): Unit = drop(ctx, plan(ctx, i))

  private def pool(n: Int) = if (n >= WarmBase) st.warmRegistered else st.registered

  /** Every ten drops: seven good, one bad checksum, one unknown sample,
    * one re-delivery, in an order the seed fixes. */
  val Block: Seq[Kind] = Seq.fill(7)(Good) ++ Seq(BadChecksum, UnknownSample, Redelivery)

  /** The n-th drop of the seed's sequence. */
  def plan(ctx: Ctx, n: Int): Drop = {
    val r = ctx.rng(1000000L + n)
    val p = Projects(r.nextInt(Projects.size))
    val kind = ctx.shuffled(900000L, Block, n)
    kind match {
      case Redelivery =>
        val old = pool(n)(r.nextInt(pool(n).size))
        Drop(n, kind, old.sample, old.path)
      case _ =>
        val bc = kind match {
          case Good => barcode(p, 1 + r.nextInt(SamplesPerProject))
          case UnknownSample => barcode(p, 500 + r.nextInt(400))
          case _ =>
            val ok = barcode(p, 1 + r.nextInt(SamplesPerProject))
            val wrong = Map34.filterNot(_ == ok.last)(r.nextInt(33))
            ok.init + wrong
        }
        Drop(n, kind, bc, s"incoming/${bc}_${n}_R1.fastq")
    }
  }

  /** Land payload, sidecar and marker; the marker appears atomically. */
  def land(ctx: Ctx, d: Drop): Long = {
    val r = ctx.rng(2000000L + d.path.hashCode)
    val fastq = new StringBuilder
    val bases = "ACGT"
    for (k <- 0 until 16) {
      val seq = Array.fill(100)(bases(r.nextInt(4))).mkString
      fastq.append(s"@${d.barcode}:$k\n$seq\n+\n${"I" * 100}\n")
    }
    val bytes = fastq.toString.getBytes(UTF_8)
    val payload = Paths.get(st.root, d.path)
    Files.write(payload, bytes)
    val sha = java.security.MessageDigest.getInstance("SHA-256").digest(bytes)
      .map("%02x".format(_)).mkString
    Files.write(Paths.get(payload.toString + ".sha256"), s"$sha  ${payload.getFileName}\n".getBytes(UTF_8))
    val tmp = Paths.get(st.staging, s"drop_${d.n}.parquet")
    Markers.write(tmp.toString, d.path, bytes.length.toLong, sha)
    Files.move(tmp, Paths.get(st.markers, s"drop_${d.n}.parquet"), StandardCopyOption.ATOMIC_MOVE)
    bytes.length.toLong
  }

  private def latest(ctx: Ctx, dir: String): DataFrame =
    ctx.trace.span("txn.read_latest")(SnapshotTxn.readLatest(ctx.spark, st.txn, dir))

  /** The registration callback: FastqPipeline over the micro-batch, its
    * outcome (new datasets and rejected rows, a handful per drop)
    * computed in one job and staged into the open transaction. A new
    * dataset is a registered row whose code the table does not hold yet;
    * the re-delivery check rests on the pipeline's own idempotent append
    * (K1), which must drop a payload already registered. */
  private def stage(ctx: Ctx): (SnapshotTxn, DataFrame, Long) => Unit = (t, batch, _) =>
    ctx.trace.span("pipelines.stage") {
      val spark = ctx.spark
      val datasets = latest(ctx, st.datasets)
      val res = FastqPipeline.run(batch.select("path"), latest(ctx, st.samples), datasets)
      val fresh = res.registered
        .join(datasets.select("code"), Seq("code"), "left_anti")
        .select(lit("ds").as("t"), col("code"), col("sample"), col("path"), lit(null).cast("string").as("barcode"))
      val errors = res.errors.select(lit("err").as("t"),
        element_at(col("__errors"), 1).as("code"), lit(null).cast("string").as("sample"),
        col("path"), col("barcode"))
      val outcome = fresh.unionByName(errors).collect()
      // nothing new and nothing rejected: K1 dropped the payload
      if (ctx.trace.enabled && outcome.isEmpty) st.replaySkips += 1
      def local(kind: String)(f: org.apache.spark.sql.Row => (String, String, String)) =
        outcome.filter(_.getString(0) == kind).map(f).toSeq
      import spark.implicits._
      val ds = local("ds")(r => (r.getString(1), r.getString(2), r.getString(3)))
      val errs = local("err")(r => (r.getString(3), r.getString(4), r.getString(1)))
      if (ds.nonEmpty) t.stageAppend(ds.map { case (c, s, p) => (c, "FASTQ", s, p) }
        .toDF("code", "dsType", "sample", "path"), st.datasets)
      if (errs.nonEmpty) t.stageAppend(errs.toDF("path", "barcode", "code"), st.errors)
    }

  def drop(ctx: Ctx, d: Drop): Unit = {
    val spark = ctx.spark
    val traced = ctx.trace.enabled
    val before = if (traced) Dirs.snapshot(Seq(st.txn, st.chk, s"${st.root}/tables")) else Map.empty[String, (Long, Long)]
    val head0 = SnapshotTxn.latestTxn(spark, st.txn)
    val payloadBytes = land(ctx, d)
    val project = d.barcode.take(5)
    val want: (Seq[String], Seq[String]) = d.kind match {
      case Good =>
        val num = st.runNumber(project) + 1
        (Seq(s"${d.barcode}_$num|FASTQ|${d.barcode}|${d.path}"), Nil)
      case BadChecksum => (Nil, Seq(s"${d.path}|${d.barcode}|CHECKSUM_MISMATCH"))
      case UnknownSample => (Nil, Seq(s"${d.path}|${d.barcode}|SAMPLE_NOT_FOUND"))
      case Redelivery =>
        val old = pool(d.n).find(_.path == d.path).get
        (Seq(s"${old.code}|FASTQ|${old.sample}|${d.path}"), Nil)
    }
    var readErrors: Seq[String] = Nil
    val ok = ctx.op("drop") {
      ctx.trace.span("streaming.trigger") {
        Ingest.txnStream(spark, st.markers, "drop_*.parquet", st.txn, st.chk, stage(ctx))
      }
      val (ds, errs) = ctx.part("lookup") {
        (ctx.rows(latest(ctx, st.datasets)
            .filter(col("path") === d.path).select("code", "dsType", "sample", "path")),
          ctx.rows(latest(ctx, st.errors)
            .filter(col("path") === d.path).select("path", "barcode", "code")))
      }
      readErrors = errs
      val dsOk = ctx.same(s"drop ${d.n} (${d.kind}) datasets", ds, want._1)
      ctx.same(s"drop ${d.n} (${d.kind}) errors", errs, want._2) && dsOk
    }
    val head1 = SnapshotTxn.latestTxn(spark, st.txn)
    val headOk = ctx.expect(head1 == head0 + (if (d.kind == Redelivery) 0 else 1),
      s"drop ${d.n} (${d.kind}): txn head $head0 -> $head1")
    if (!headOk) ctx.failLast("drop")
    // the model moves only when the drop did what it should
    if (ok && d.kind == Good) {
      st.runNumber(project) += 1
      pool(d.n) += Registered(d.path, s"${d.barcode}_${st.runNumber(project)}", d.barcode)
    }
    if (ctx.timing) ctx.units += 1
    if (traced) {
      val after = Dirs.snapshot(Seq(st.txn, st.chk, s"${st.root}/tables"))
      val written = after.filter { case (p, v) => !before.get(p).contains(v) }
      st.drops += 1
      st.filesWritten += written.size
      st.bytesWritten += written.values.map(_._1).sum
      st.payloadBytes += payloadBytes
      // rejected rows as the errors table holds them (path|barcode|code)
      readErrors.foreach(e => st.rejected(e.substring(e.lastIndexOf('|') + 1)) += 1)
    }
  }

  def layerMetrics(ctx: Ctx): Map[String, (Double, String)] = {
    val tr = ctx.trace
    val n = math.max(st.drops, 1L).toDouble
    Map(
      "streaming.trigger_self_s" -> (tr.selfSeconds("streaming.trigger").sum / n, "s"),
      "streaming.replay_skips" -> (st.replaySkips.toDouble, "count"),
      "pipelines.stage_s" -> (tr.durations("pipelines.stage").sum / n, "s"),
      "pipelines.rejected_rows.CHECKSUM_MISMATCH" -> (st.rejected("CHECKSUM_MISMATCH").toDouble, "count"),
      "pipelines.rejected_rows.SAMPLE_NOT_FOUND" -> (st.rejected("SAMPLE_NOT_FOUND").toDouble, "count"),
      "txn.files_written_per_drop" -> (st.filesWritten / n, "count"),
      "txn.bytes_written_per_payload_byte" -> (Layers.ratio(st.bytesWritten, st.payloadBytes), "ratio"),
      "txn.log_files_end" -> (Dirs.snapshot(Seq(st.txn)).size.toDouble, "count"),
      "txn.read_resolve_s" -> (Layers.mean(tr.durations("txn.read_latest")), "s"))
  }
}

/** Marker files: one-row parquet written with the parquet library
  * directly, so landing a drop runs no Spark job. */
object Markers {
  import org.apache.hadoop.conf.Configuration
  import org.apache.parquet.example.data.simple.SimpleGroupFactory
  import org.apache.parquet.hadoop.example.ExampleParquetWriter
  import org.apache.parquet.schema.MessageTypeParser

  private val schema = MessageTypeParser.parseMessageType(
    "message marker { required binary path (STRING); required int64 size; " +
      "required binary sha256 (STRING); }")

  def write(file: String, path: String, size: Long, sha: String): Unit = {
    val conf = new Configuration()
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(file))
      .withType(schema).withConf(conf).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("path", path).append("size", size).append("sha256", sha))
    finally w.close()
  }
}

/** File listings for the traced run's write accounting. */
object Dirs {
  import scala.jdk.CollectionConverters._

  /** Every regular file under `roots`: path → (size, mtime). */
  def snapshot(roots: Seq[String]): Map[String, (Long, Long)] = roots.flatMap { r =>
    val root = Paths.get(r)
    if (!Files.isDirectory(root)) Nil
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map { p: Path =>
        p.toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)
      }.toList finally s.close()
    }
  }.toMap
}
