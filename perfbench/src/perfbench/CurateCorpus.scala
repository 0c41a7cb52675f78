package perfbench

import graft.operators.{Clustering, Dedup, Similarity}
import graft.pipelines.CurationPipeline

import scala.collection.mutable

/** curate_corpus: repeated full curation passes over one synthetic
  * corpus fixed by the seed. A pass is the batch job of an LLM-data
  * pipeline:
  *   1. `CurationPipeline.curate` — quality gate, language gate, exact
  *      dedup, MinHash near-dup canonicalization;
  *   2. `Similarity.embeddingNearDupBucketed` — near-duplicate pairs of
  *      the document embeddings;
  *   3. `Clustering.kmeansAssign` — k-means over the embeddings;
  *   4. `Dedup.connectedComponents` — duplicate groups from the pairs.
  *
  * The generator plants every answer: short documents (quality gate),
  * German and French documents (language gate), exact copies and
  * whitespace variants of English documents (duplicate groups, whose
  * embeddings are near-identical), and embeddings drawn around K
  * well-separated centres. It verifies its own margins (no unplanted
  * pair near the similarity threshold, every point nearest its own
  * centre), so the kept set, the pairs, the clusters and the components
  * are known exactly.
  *
  * Class: `pass` (one full pass). */
object CurateCorpus extends Workload {
  val Docs = 360
  val K = 8 // Docs / K = 45 is coprime with K: k-means' strided seeds hit every cluster
  val Dim = 16
  val Threshold = 0.995
  val Stopwords = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "with"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "mit", "auf"),
    "fr" -> Seq("le", "la", "et", "les", "des", "est", "une", "dans"))

  final case class Doc(id: Long, text: String, vec: Array[Double], base: Long, kind: String)

  final class Corpus(val docs: Seq[Doc], val root: String) {
    /** Duplicate groups (base → members) of two or more documents. */
    val groups: Map[Long, Seq[Long]] =
      docs.groupBy(_.base).filter(_._2.size > 1).map { case (b, ds) => b -> ds.map(_.id).sorted }
    val kept: Seq[String] = docs.filter(d => d.kind == "en" && d.base == d.id).map(d => s"${d.id}|en")
    val pairs: Seq[String] = groups.values.toSeq.flatMap(g =>
      for (a <- g; b <- g if a < b) yield s"$a|$b")
    val components: Seq[String] = groups.values.toSeq.flatMap(g => g.map(x => s"$x|${g.min}"))
    val clusters: Set[Set[Long]] =
      docs.groupBy(d => d.base % K).values.map(_.map(_.id).toSet).toSet
    var passes = 0L
    var keptDocs = 0L
  }
  private var corpus: Corpus = _

  private def cos(a: Array[Double], b: Array[Double]): Double = {
    var (d, na, nb) = (0.0, 0.0, 0.0)
    var i = 0
    while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    d / math.sqrt(na * nb)
  }

  def generate(ctx: Ctx): Seq[Doc] = {
    val r = ctx.rng(20)
    def gauss() = r.nextDouble() * 2 - 1 + r.nextDouble() * 2 - 1 + r.nextDouble() * 2 - 1
    def unit(v: Array[Double]) = { val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n) }
    // K centres, pairwise cosine at most 0.3
    val centres = mutable.ArrayBuffer.empty[Array[Double]]
    while (centres.size < K) {
      val c = unit(Array.fill(Dim)(gauss()))
      if (centres.forall(o => cos(o, c) <= 0.3)) centres += c
    }
    def word(): String = Array.fill(3 + r.nextInt(6))(('a' + r.nextInt(26)).toChar).mkString
    def text(lang: String, n: Int): String = {
      val sw = Stopwords.toMap.apply(lang)
      Seq.fill(n)(if (r.nextInt(4) == 0) sw(r.nextInt(sw.size)) else word()).mkString(" ")
    }
    // roles, the same mix in every run: each stretch of 45 documents
    // starts with the one that seeds k-means (an English base) and holds
    // 4 short, 3 German, 3 French, 3 exact copies, 3 whitespace variants
    // and 28 English bases, in an order the seed fixes
    val stretch = Docs / K
    val roles = Seq.fill(4)("short") ++ Seq.fill(3)("de") ++ Seq.fill(3)("fr") ++
      Seq.fill(3)("copy") ++ Seq.fill(3)("variant") ++ Seq.fill(stretch - 17)("en")
    val docs = mutable.ArrayBuffer.empty[Doc]
    val bases = mutable.ArrayBuffer.empty[Doc]
    for (id <- 0L until Docs.toLong) {
      val role = if (id % stretch == 0) "en" else ctx.shuffled(21, roles, (id - id / stretch - 1).toInt)
      val d = role match {
        case "short" => Doc(id, text("en", 8), null, id, "short")
        case "de" | "fr" => Doc(id, text(role, 60), null, id, role)
        case "copy" | "variant" =>
          val b = bases(r.nextInt(bases.size))
          Doc(id, if (role == "copy") b.text else b.text.replaceFirst(" ", "  "), null, b.id, "en")
        case _ => Doc(id, text("en", 60), null, id, "en")
      }
      // a copy's embedding is its base's, nudged; others sit around the
      // centre of their base, redrawn until every margin holds
      def draw(): Array[Double] =
        if (d.base != d.id) docs(d.base.toInt).vec.map(_ + 1e-5 * gauss())
        else unit(centres((d.base % K).toInt).zip(Array.fill(Dim)(gauss())).map { case (c, g) => c + 0.08 * g })
      var v = draw()
      def ok(v: Array[Double]) = {
        val mine = (d.base % K).toInt
        centres.indices.forall(k => k == mine || cos(v, centres(k)) < cos(v, centres(mine)) - 0.3) &&
          docs.forall(o => if (o.base == d.base) cos(o.vec, v) >= 0.9999 else cos(o.vec, v) < Threshold - 0.01)
      }
      while (!ok(v)) v = draw()
      val doc = d.copy(vec = v)
      docs += doc
      if (doc.kind == "en" && doc.base == doc.id) bases += doc
    }
    docs.toSeq
  }

  def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val c = new Corpus(generate(ctx), s"${ctx.dir}/corpus")
    c.docs.map(d => (d.id, d.text)).toDF("id", "text").write.parquet(s"${c.root}/docs")
    c.docs.map(d => (d.id, d.vec.toSeq)).toDF("id", "vec").write.parquet(s"${c.root}/emb")
    corpus = c
  }

  /** One full pass, checked stage by stage. */
  def pass(ctx: Ctx): Boolean = {
    val spark = ctx.spark
    import spark.implicits._
    val c = corpus
    val tr = ctx.trace
    val docs = spark.read.parquet(s"${c.root}/docs")
    val emb = spark.read.parquet(s"${c.root}/emb")
    val kept = tr.span("curation.curate") {
      ctx.rows(CurationPipeline.curate(docs, "id", "text", Stopwords, 20L, "en")
        .select("id", "lang_pred"))
    }
    val pairs = tr.span("similarity.neardup") {
      ctx.rows(Similarity.embeddingNearDupBucketed(emb, "id", "vec", Threshold, 32, Dim, 4)
        .select("id_a", "id_b"))
    }
    val cells = tr.span("clustering.kmeans") {
      Clustering.kmeansAssign(emb, "id", "vec", K, 2).select("id", "cluster").collect()
        .map(r => r.getLong(0) -> r.get(1).toString)
    }
    val pairDf = pairs.map(_.split('|')).map(a => (a(0).toLong, a(1).toLong))
      .toDF("id_a", "id_b")
    val comps = tr.span("dedup.components")(ctx.rows(Dedup.connectedComponents(pairDf)))
    if (tr.enabled) { c.passes += 1; c.keptDocs += kept.size }
    val clustering = cells.groupBy(_._2).values.map(_.map(_._1).toSet).toSet
    val keptOk = ctx.same("curate kept", kept, c.kept)
    val pairsOk = ctx.same("near-dup pairs", pairs, c.pairs)
    val clustersOk = ctx.expect(clustering == c.clusters,
      s"k-means: ${clustering.size} clusters, sizes ${clustering.toSeq.map(_.size).sorted}, " +
        s"want sizes ${c.clusters.toSeq.map(_.size).sorted}")
    val compsOk = ctx.same("components", comps, c.components)
    keptOk && pairsOk && clustersOk && compsOk
  }

  def warm(ctx: Ctx): Unit = {
    ctx.warmUntilLevel(2, 24.0, window = 1)(_ => Some("pass" -> ctx.timed(ctx.op("pass")(pass(ctx)))))
    ()
  }

  def step(ctx: Ctx, i: Int): Unit = {
    ctx.op("pass")(pass(ctx))
    if (ctx.timing) ctx.units += Docs
  }

  def layerMetrics(ctx: Ctx): Map[String, (Double, String)] = {
    val tr = ctx.trace
    val c = corpus
    val n = math.max(c.passes, 1L).toDouble
    Map(
      "curation.curate_s" -> (tr.durations("curation.curate").sum / n, "s"),
      "similarity.neardup_s" -> (tr.durations("similarity.neardup").sum / n, "s"),
      "clustering.kmeans_s" -> (tr.durations("clustering.kmeans").sum / n, "s"),
      "dedup.components_s" -> (tr.durations("dedup.components").sum / n, "s"),
      "dedup.pins_per_pass" -> (tr.jobs.count(_.pin == "dedup") / n, "count"),
      "curation.keep_ratio" -> (c.keptDocs / (n * Docs), "ratio"))
  }
}
