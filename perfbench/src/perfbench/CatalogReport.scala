package perfbench

import graft.operators.{Lineage, SnapshotTxn}
import graft.reports.Reports
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** catalog_report: the reporting plugins' reads against a sample catalog
  * that setup publishes through `SnapshotTxn` in many small commits (one
  * per project), so every read pays the version and manifest layout that
  * writes leave behind, and every table spans one file per commit.
  *
  * The catalog is reference-shaped: organism ← patient ← tissue ←
  * extract ← run (five levels), plus one pooled run per project with
  * two extract parents, so the graph is a DAG and not a tree. Each run
  * has one dataset of three files (plus the `original` folder row).
  *
  * The seed fixes an interleaved stream of two operation types:
  *   - lookups: `Reports.fileReport`, `Reports.propertyTsv`,
  *     `Reports.parentMap`, and a sample point read via
  *     `SnapshotTxn.readLatest`;
  *   - walks: `Lineage.ancestors` (a run up to its patient and organism),
  *     `Lineage.descendants` (a patient down to everything below) and
  *     `Lineage.roots` (the organism of every sample of a project).
  * Every result is compared with the same answer computed from the
  * generator's own in-memory catalog. */
object CatalogReport extends Workload {
  val Projects = 6

  final case class Sample(code: String, project: Int, level: Int, parents: Seq[String],
                          props: Map[String, String])
  final case class FileRow(ds: String, rel: String, name: String, size: Long, modified: String)

  final class Catalog(val root: String) {
    val txn = s"$root/txn"
    val samples = s"$root/tables/samples"
    val edges = s"$root/tables/edges"
    val parentRefs = s"$root/tables/parent_refs"
    val files = s"$root/tables/files"
    val byCode = mutable.LinkedHashMap.empty[String, Sample]
    val fileRows = mutable.ArrayBuffer.empty[FileRow]
    def level(l: Int): Seq[Sample] = byCode.values.filter(_.level == l).toSeq
    lazy val children: Map[String, Seq[String]] =
      byCode.values.toSeq.flatMap(s => s.parents.map(_ -> s.code)).groupBy(_._1)
        .map { case (k, v) => k -> v.map(_._2) }
    lazy val datasets: Seq[String] = fileRows.map(_.ds).distinct.toSeq
    // traced phase
    var lookupRows = 0L
    var walkRows = 0L
  }
  private var cat: Catalog = _

  private def code(project: Int, kind: Char, n: Int): String = {
    val p = f"Q${('A' + project).toChar}CAT$n%03d$kind"
    p + Dropbox.checksum(p)
  }

  /** The seed's catalog, project by project. */
  def generate(ctx: Ctx, c: Catalog): Unit = {
    val r = ctx.rng(10)
    val organisms = Seq("NCBI_9606", "NCBI_10090", "NCBI_4932")
    organisms.foreach(o => c.byCode(o) = Sample(o, -1, 0, Nil, Map("Q_NCBI_ORGANISM" -> o)))
    for (p <- 0 until Projects) {
      var n = 0
      def next(kind: Char) = { n += 1; code(p, kind, n) }
      def add(kind: Char, level: Int, parents: Seq[String]): String = {
        val cd = next(kind)
        c.byCode(cd) = Sample(cd, p, level, parents, Map(
          "Q_EXTERNALDB_ID" -> s"EXT-$p-$n-${r.nextInt(1000)}",
          "Q_SECONDARY_NAME" -> s"sample $cd",
          "Q_PROPERTIES" -> s"<qproperties><property label='run' value='${r.nextInt(100)}'/></qproperties>"))
        cd
      }
      val organism = organisms(r.nextInt(organisms.size))
      val extracts = mutable.ArrayBuffer.empty[String]
      for (_ <- 0 until 3) {
        val patient = add('E', 1, Seq(organism))
        for (_ <- 0 until 2) {
          val tissue = add('B', 2, Seq(patient))
          for (_ <- 0 until 2) {
            val extract = add('T', 3, Seq(tissue))
            extracts += extract
            for (_ <- 0 until 2) add('R', 4, Seq(extract))
          }
        }
      }
      val a = extracts(r.nextInt(extracts.size))
      val b = extracts.filterNot(_ == a)(r.nextInt(extracts.size - 1))
      add('P', 4, Seq(a, b))
      c.byCode.values.filter(s => s.project == p && s.level == 4).foreach { s =>
        val ds = s"${s.code}_1"
        val day = f"2024-${1 + r.nextInt(12)}%02d-${1 + r.nextInt(28)}%02d"
        c.fileRows += FileRow(ds, "original", "original", 0L, day)
        c.fileRows += FileRow(ds, "original/R1.fastq.gz", "R1.fastq.gz", 1000L + r.nextInt(100000), day)
        c.fileRows += FileRow(ds, "original/R2.fastq.gz", "R2.fastq.gz", 1000L + r.nextInt(100000), day)
        c.fileRows += FileRow(ds, "qc/report.html", "report.html", 100L + r.nextInt(5000), day)
      }
    }
  }

  /** One transaction per project: its samples, edges, parent references
    * and path-info rows appended together. */
  def publish(ctx: Ctx, c: Catalog): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val groups = c.byCode.values.toSeq.groupBy(s => math.max(s.project, 0))
    for (p <- 0 until Projects) {
      val ss = groups(p)
      val codes = ss.map(_.code).toSet
      val smp = ss.map(s => (s.code, s"/SPACE_${s.project}", s"LEVEL_${s.level}",
        s"/SPACE_${s.project}/E${s.project}", s.props)).toDF("code", "space", "sampleType", "experiment", "props")
      val edg = ss.flatMap(s => s.parents.map(pa => (s.code, pa))).toDF("child", "parent")
      val refs = ss.flatMap(s => s.parents.map(pa => (s.code, s"/SPACE_${s.project}/$pa")))
        .toDF("child", "parent")
      val fil = c.fileRows.filter(f => codes(f.ds.stripSuffix("_1"))).toSeq
        .map(f => (f.ds, f.rel, f.name, f.size, f.modified))
        .toDF("data_set_code", "relative_path", "file_name", "size_in_bytes", "last_modified")
      val t = SnapshotTxn.begin(spark, c.txn, claim = true)
      Seq(smp -> c.samples, edg -> c.edges, refs -> c.parentRefs, fil -> c.files).foreach {
        case (df, dir) =>
          if (p == 0) t.stagePublish(df.coalesce(1), dir) else t.stageAppend(df.coalesce(1), dir)
      }
      t.commit(tag = Some(s"project=$p"))
    }
  }

  def setup(ctx: Ctx): Unit = {
    val c = new Catalog(s"${ctx.dir}/catalog")
    generate(ctx, c)
    publish(ctx, c)
    cat = c
  }

  val LookupKinds = Seq("fileReport", "propertyTsv", "parentMap", "point")
  val WalkKinds = Seq("ancestors", "descendants", "roots")

  /** Every eleven requests: each lookup kind twice, each walk kind once,
    * in an order the seed fixes. */
  val Block: Seq[String] = LookupKinds ++ LookupKinds ++ WalkKinds

  /** Targets of the i-th request of stream `stream`, of kind `kind`. */
  def targets(ctx: Ctx, stream: Long, i: Int, kind: String): Seq[String] = {
    val r = ctx.rng(stream + i)
    def pick(xs: Seq[String], n: Int) = Seq.fill(n)(xs(r.nextInt(xs.size))).distinct
    def samples = cat.byCode.values.filter(_.level > 0).map(_.code).toSeq
    kind match {
      case "fileReport" => pick(cat.datasets, 3)
      case "point" => pick(samples, 1)
      case "propertyTsv" | "parentMap" => pick(samples, 4)
      case "ancestors" => pick(cat.level(4).map(_.code), 1)
      case "descendants" => pick(cat.level(1).map(_.code), 1)
      case "roots" => Seq(r.nextInt(Projects).toString)
    }
  }

  def classOf(kind: String): String = if (WalkKinds.contains(kind)) "walk" else "lookup"

  /** Every (ancestor, depth) path from `node` upwards, one per path. */
  private def up(node: String): Seq[(String, Int)] =
    cat.byCode(node).parents.flatMap(p => (p, 1) +: up(p).map { case (a, d) => (a, d + 1) })

  private def down(node: String): Seq[(String, Int)] =
    cat.children.getOrElse(node, Nil).flatMap(ch => (ch, 1) +: down(ch).map { case (a, d) => (a, d + 1) })

  def expected(kind: String, targets: Seq[String]): Seq[String] = kind match {
    case "fileReport" =>
      cat.fileRows.filter(f => targets.contains(f.ds) && f.rel != "original" && f.rel != "").map { f =>
        val segs = f.rel.split("/")
        val folder = if (segs.length > 1) segs(segs.length - 2) else ""
        s"${f.ds}|${f.rel}|${f.name}|${f.size}|$folder|${f.modified}"
      }.toSeq
    case "propertyTsv" => targets.map { t =>
      val p = cat.byCode(t).props
      s"$t|${p("Q_EXTERNALDB_ID")}|${p("Q_SECONDARY_NAME")}|${p("Q_PROPERTIES")}"
    }
    case "parentMap" => targets.flatMap(t => cat.byCode(t).parents.map(p => s"$t|$p"))
    case "point" => targets.map { t =>
      val s = cat.byCode(t)
      s"$t|/SPACE_${s.project}|LEVEL_${s.level}|/SPACE_${s.project}/E${s.project}|" +
        s.props.toSeq.map { case (k, v) => s"$k=$v" }.sorted.mkString("{", ",", "}")
    }
    case "ancestors" => targets.flatMap(t => up(t).map { case (a, d) => s"$t|$a|$d" })
    case "descendants" => targets.flatMap(t => down(t).map { case (a, d) => s"$t|$a|$d" })
    case "roots" =>
      val p = targets.head.toInt
      cat.byCode.values.filter(s => s.project == p).toSeq.flatMap { s =>
        up(s.code).filter { case (a, _) => cat.byCode(a).parents.isEmpty }
          .map { case (a, d) => s"${s.code}|$a|$d" }
      }
  }

  private def latest(ctx: Ctx, dir: String): DataFrame =
    ctx.trace.span("txn.read_latest")(SnapshotTxn.readLatest(ctx.spark, cat.txn, dir))

  /** Run one request; return its rows. */
  def run(ctx: Ctx, kind: String, targets: Seq[String]): Seq[String] = {
    def collect(span: String)(df: => DataFrame): Seq[String] = {
      val d = df
      ctx.trace.span(span)(ctx.rows(d))
    }
    kind match {
      case "fileReport" => collect("reports.collect")(Reports.fileReport(latest(ctx, cat.files), targets))
      case "propertyTsv" => collect("reports.collect")(Reports.propertyTsv(latest(ctx, cat.samples), "code", targets))
      case "parentMap" => collect("reports.collect")(Reports.parentMap(latest(ctx, cat.parentRefs), targets))
      case "point" => collect("reports.collect")(latest(ctx, cat.samples).filter(col("code") === targets.head))
      case "ancestors" =>
        val w = ctx.trace.span("lineage.call")(Lineage.ancestors(latest(ctx, cat.edges)))
        collect("lineage.collect")(w.filter(col("node") === targets.head))
      case "descendants" =>
        val edges = latest(ctx, cat.edges)
        val start = edges.sparkSession.createDataFrame(
          java.util.List.of(org.apache.spark.sql.Row(targets.head)),
          org.apache.spark.sql.types.StructType.fromDDL("node string"))
        val w = ctx.trace.span("lineage.call")(Lineage.descendants(edges, start))
        collect("lineage.collect")(w)
      case "roots" =>
        val p = targets.head.toInt
        val members = cat.byCode.values.filter(_.project == p).map(_.code).toSeq
        val w = ctx.trace.span("lineage.call")(Lineage.roots(latest(ctx, cat.edges)))
        collect("lineage.collect")(w.filter(col("node").isin(members: _*)))
    }
  }

  /** Every request kind in turn, round after round (targets from a warm
    * stream of the seed), until the latency of both operation types has
    * levelled off; a window of four spans every kind of either type. */
  def warm(ctx: Ctx): Unit = {
    val kinds = Block.distinct
    ctx.warmUntilLevel(4 * kinds.size, 20.0, window = 4) { i =>
      val kind = kinds(i % kinds.size)
      val ts = targets(ctx, 5000000L, i, kind)
      Some(classOf(kind) -> ctx.timed(ctx.op(classOf(kind))(
        ctx.same(s"warm $kind", run(ctx, kind, ts), expected(kind, ts)))))
    }
    ()
  }

  def step(ctx: Ctx, i: Int): Unit = {
    val kind = ctx.shuffled(900000L, Block, i)
    val ts = targets(ctx, 3000000L, i, kind)
    val cls = classOf(kind)
    ctx.op(cls) {
      val got = run(ctx, kind, ts)
      if (ctx.trace.enabled) {
        if (cls == "lookup") cat.lookupRows += got.size else cat.walkRows += got.size
      }
      ctx.same(s"$kind ${ts.mkString(",")}", got, expected(kind, ts))
    }
    if (ctx.timing) ctx.units += 1
  }

  def layerMetrics(ctx: Ctx): Map[String, (Double, String)] = {
    val tr = ctx.trace
    val lookups = tr.spans.filter(_.name == "op:lookup").map(_.op).toSet
    val walks = tr.spans.filter(_.name == "op:walk").map(_.op).toSet
    val nl = math.max(lookups.size, 1).toDouble
    val nw = math.max(walks.size, 1).toDouble
    val lookupJobs = tr.totals(tr.jobsOfOps(lookups))
    val walkJobs = tr.jobsOfOps(walks)
    val walkTotals = tr.totals(walkJobs)
    Map(
      "txn.read_resolve_s" -> (Layers.mean(tr.durations("txn.read_latest")), "s"),
      "reports.collect_s" -> (Layers.mean(tr.durations("reports.collect")), "s"),
      "reports.files_scanned_per_request" -> (tr.filesOfOps(lookups) / nl, "count"),
      "reports.rows_read_per_row_returned" ->
        (Layers.ratio(lookupJobs.inRecords, cat.lookupRows), "ratio"),
      "lineage.call_s" -> (Layers.mean(tr.durations("lineage.call")), "s"),
      "lineage.collect_s" -> (Layers.mean(tr.durations("lineage.collect")), "s"),
      "lineage.pins_per_walk" -> (walkJobs.count(_.pin == "lineage") / nw, "count"),
      "lineage.jobs_per_walk" -> (walkJobs.size / nw, "count"),
      "lineage.rows_examined_per_row_returned" ->
        (Layers.ratio(walkTotals.inRecords + walkTotals.shuffleReadRecords, cat.walkRows), "ratio"))
  }
}
