package graft.perfbench

import graft.ext.Search
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.io.File
import java.util.SplittableRandom
import scala.collection.mutable

/** A text index served and maintained by one closed-loop client.
  *
  * Set-up builds the BM25 and positional components of a fresh index
  * (`Search.saveTextIndex`, `savePositionalIndex`). The loop then repeats a
  * fixed cycle of nine operations, and the measured window holds whole
  * cycles: three probes, an append of a fresh-id batch, three probes, a
  * tombstone of live ids, and a `compactTextIndex`. Probes take the four
  * kinds in turn; the seed draws their terms, the appended documents and
  * the tombstoned ids. The cycle is short so that every run of a few
  * seconds covers each write path once; probes after the append and the
  * tombstone read a fragmented, masked index. `check` compares probes on
  * the maintained index with a fresh build and with the live documents,
  * both with writes pending and after compacting them.
  */
final class IndexServe(a: Harness.Args) extends Harness.Workload {
  import IndexServe.Probe
  def unitKind = "probe"
  def setupUsesSpark = true

  val nDocs = 250
  val batchDocs = 20
  val tombstoneDocs = 5
  /** p: probe, a: append, t: tombstone, c: compact */
  val cycle = "pppappptc"
  private val root = new File(a.work, "index").getPath
  private val rnd = new SplittableRandom(a.seed)
  private lazy val base = Gen.corpus(nDocs)
  private val live = mutable.LinkedHashMap.empty[Long, Gen.Doc]
  private var nextId = 1000000L

  def setup(spark: => SparkSession): Unit = {
    Gen.deleteRecursively(new File(root))
    val docs = Docs.frame(spark, Gen.shuffled(base, a.seed))
    Search.saveTextIndex(docs, root)
    Search.savePositionalIndex(docs, root)
    live.clear()
    base.foreach(d => live(d.id) = d)
  }

  private def pick[T](xs: IndexedSeq[T]): T = xs(rnd.nextInt(xs.size))
  private def liveDoc(): Gen.Doc = {
    // the base corpus is the bulk of the live set; draw from it directly
    // and fall back to any live document when the draw was tombstoned
    val d = base(rnd.nextInt(base.size))
    live.getOrElse(d.id, live.valuesIterator.next())
  }
  private def termsOf(d: Gen.Doc): Vector[String] = d.text.split(' ').toVector

  private var probes = 0
  /** The kinds take turns, so every run serves the same mix. */
  private def drawProbe(): Probe = { probes += 1; drawProbe(probes % 4) }

  private def drawProbe(kind: Int): Probe = kind match {
    case 0 =>
      val ts = Vector.fill(2 + rnd.nextInt(2))(Gen.vocab.draw(rnd)).distinct
      Probe("search.bm25", Search.bm25TopKIndexed(_, _, ts, 10))
    case 1 =>
      // both terms from one live document, so the AND has hits
      val ts = termsOf(liveDoc()).distinct
      val t1 = pick(ts)
      val t2 = pick(ts.filter(_ != t1) match { case v if v.isEmpty => ts; case v => v })
      val terms = Seq(t1, t2).distinct
      Probe("search.conjunctive", Search.conjunctiveSearch(_, _, terms))
    case 2 =>
      val ts = termsOf(liveDoc())
      val i = rnd.nextInt(ts.size - 1)
      val phrase = Seq(ts(i), ts(i + 1))
      Probe("search.phrase", Search.phraseSearchIndexed(_, _, phrase, 10))
    case _ =>
      val ts = termsOf(liveDoc())
      val i = rnd.nextInt(ts.size - 3)
      val (t1, t2) = (ts(i), ts.slice(i + 1, i + 4).find(_ != ts(i)).getOrElse(ts(i) + "x"))
      Probe("search.proximity", Search.proximitySearchIndexed(_, _, t1, t2, 3, 10))
  }

  private def probe(spark: SparkSession, rec: Recorder, p: Probe): Unit =
    rec.unit(unitKind) {
      rec.span(p.kind) {
        val df = p.run(spark, root)
        rec.span("catalyst.plan")(df.queryExecution.executedPlan)
        rec.span("exec")(df.collect())
      }
    }

  private def freshBatch(): Vector[Gen.Doc] = Vector.fill(batchDocs) {
    nextId += 1
    Gen.Doc(nextId, Gen.text(rnd, rnd.nextInt(20, 101)).mkString(" "), "web")
  }
  private def drawTombstones(): Vector[Long] =
    Vector.fill(tombstoneDocs)(liveDoc().id).distinct

  private def append(spark: SparkSession, rec: Recorder): Unit = {
    val batch = freshBatch()
    val df = Docs.frame(spark, batch)
    rec.unit("write")(rec.span("stage.append")(Search.appendToTextIndex(df, root)))
    if (rec.units.last.ok) batch.foreach(d => live(d.id) = d)
  }

  private def tombstone(spark: SparkSession, rec: Recorder): Unit = {
    import spark.implicits._
    val ids = drawTombstones()
    rec.unit("write")(rec.span("stage.tombstone")(
      Search.tombstoneFromTextIndex(spark, root, ids.toDF("doc_id"))))
    if (rec.units.last.ok) ids.foreach(live.remove)
  }

  /** One probe of each kind: the first query of each plan shape pays its
    * code generation, which the warm probes then reuse. */
  def first(spark: SparkSession, rec: Recorder): Unit = {
    val round = (0 until 4).map(drawProbe)
    rec.unit("round")(round.foreach(p => p.run(spark, root).collect()))
  }

  def next(spark: SparkSession, rec: Recorder): Unit = cycle.foreach {
    case 'p' => probe(spark, rec, drawProbe())
    case 'a' => append(spark, rec)
    case 't' => tombstone(spark, rec)
    case 'c' =>
      rec.unit("compact")(rec.span("stage.compact")(Search.compactTextIndex(spark, root)))
  }

  /** The maintained index is checked twice: first while an appended
    * fragment and tombstones are pending (the window ends on a
    * compaction, so an untimed append and tombstone are made first), then
    * after compacting them. Both times, a BM25 probe must equal the same
    * probe on a fresh build over the live documents, and a phrase probe
    * the phrase counted in the live documents' tokens. */
  def check(spark: SparkSession, rec: Recorder, problems: mutable.Buffer[String],
            out: mutable.Map[String, Any]): Unit = {
    import spark.implicits._
    endDiskMb = Gen.bytesUnder(new File(root)) / 1e6
    endFilesLive = liveFiles(spark)
    val batch = freshBatch()
    Search.appendToTextIndex(Docs.frame(spark, batch), root)
    batch.foreach(d => live(d.id) = d)
    val ids = drawTombstones()
    Search.tombstoneFromTextIndex(spark, root, ids.toDF("doc_id"))
    ids.foreach(live.remove)
    if (graft.ops.Stage.pendingTombstones(spark, root).isEmpty)
      problems += "the check's tombstones are not pending"
    val freshRoot = new File(a.work, "index-fresh").getPath
    Gen.deleteRecursively(new File(freshRoot))
    Search.saveTextIndex(Docs.frame(spark, live.values.toVector), freshRoot)
    val pending = checkProbes(spark, freshRoot, "with pending writes", problems)
    Search.compactTextIndex(spark, root)
    val compacted = checkProbes(spark, freshRoot, "after compaction", problems)
    out("oracle") = Map("kind" -> "fresh_index", "live_docs" -> live.size,
      "pending" -> pending, "compacted" -> compacted)
  }

  /** One BM25 probe against the fresh build at `freshRoot` and one phrase
    * probe against the live documents; returns their row counts. */
  private def checkProbes(spark: SparkSession, freshRoot: String, state: String,
                          problems: mutable.Buffer[String]): Map[String, Int] = {
    // BM25 reads postings, doclens and stats, minus pending tombstones
    val bm25 = drawProbe(0)
    val got = bm25.run(spark, root).collect().map(_.toString).toVector
    val want = bm25.run(spark, freshRoot).collect().map(_.toString).toVector
    if (got != want)
      problems += s"search.bm25 $state: maintained index answered ${got.take(3)}, " +
        s"a fresh build ${want.take(3)}"
    if (want.isEmpty) problems += s"the BM25 check probe $state came back empty"
    // phrase search reads the positional component
    val ts = termsOf(liveDoc())
    val i = rnd.nextInt(ts.size - 1)
    val (p0, p1) = (ts(i), ts(i + 1))
    val phraseGot = Search.phraseSearchIndexed(spark, root, Seq(p0, p1), 10).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("n_occurrences").toLong)).toVector
    val phraseWant = live.values.toVector.map { d =>
      val t = termsOf(d)
      d.id -> t.indices.dropRight(1).count(j => t(j) == p0 && t(j + 1) == p1).toLong
    }.filter(_._2 > 0).sortBy { case (id, n) => (-n, id) }.take(10)
    if (phraseGot != phraseWant)
      problems += s"search.phrase $state: maintained index answered ${phraseGot.take(3)}, " +
        s"the live documents ${phraseWant.take(3)}"
    Map("bm25_rows" -> want.size, "phrase_rows" -> phraseWant.size)
  }

  // the index as the window left it, before the check's writes
  private var endDiskMb = 0.0
  private var endFilesLive = 0

  /** Data files of the versions a probe resolves: what it lists and opens. */
  private def liveFiles(spark: SparkSession): Int =
    Seq("postings", "doclens", "stats", "positions").map { c =>
      val dir = new File(new org.apache.hadoop.fs.Path(
        graft.ops.Stage.resolve(spark, s"$root/$c")).toUri.getPath)
      Option(dir.listFiles).toSeq.flatten.count(_.getName.endsWith(".parquet"))
    }.sum

  override def metrics(rec: Recorder, m: mutable.Map[String, Any]): Unit = {
    val w = rec.samples("write")
    if (w.nonEmpty) m("write_p50_s") = Stats.median(w)
    val c = rec.samples("compact")
    if (c.nonEmpty) m("compact_s") = Stats.median(c)
    val p = rec.samples(unitKind)
    if (p.nonEmpty) m("probe_p90_s") = Stats.quantile(p, 0.9)
    m("index_disk_mb") = endDiskMb
  }

  override def traceMetrics(rec: Recorder, m: mutable.Map[String, Any]): Unit = {
    m("stage.disk_mb") = endDiskMb
    m("stage.files_live") = endFilesLive.toDouble
    val writes = rec.units.filter(u => u.kind == "write" || u.kind == "compact")
    val nWrites = rec.units.count(_.kind == "write")
    m("stage.bytes_written_mb") =
      if (nWrites == 0) 0.0 else writes.flatMap(_.exec).map(_.outputMb).sum / nWrites
  }
}

object IndexServe {
  /** A probe: its span name and the query, given a session and an index root. */
  final case class Probe(kind: String, run: (SparkSession, String) => DataFrame)
}
