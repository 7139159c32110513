package graft.perfbench

import graft.jobs.CorpusBuild
import graft.ops.Sources
import graft.queries.{SimilarityOps, TextOps}
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** `corpus_build`: the LLM-data layer alone — `CorpusBuild.run` with the
  * SemDeDup stage at its frontier preset, then `CorpusBuild.write`, over
  * seeded documents and embeddings. No mempool layer runs. */
final class CorpusWorkload(c: Ctx, cfg: Gen.CorpusCfg) extends Workload {
  private val spark = c.spark
  private val tau = 0.9
  private var in: Path = _
  private var docs: Array[Gen.Doc] = _
  private var evalTexts: Array[String] = _
  private var last: CorpusBuild.Result = _
  private var keptLo, keptHi, planted = 0L
  private var keptCounts = Set.empty[Long]
  private var kept = 0L
  private var lastOut: Path = _

  /** Stage as JSON lines, the shape training corpora ship in: documents
    * and eval texts in the documents schema, embeddings as vec_id + vector. */
  private def write(d: Array[Gen.Doc], ev: Array[String], dir: Path): Unit = {
    Files.createDirectories(dir)
    def str(t: String) = "\"" + t.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    def doc(id: Long, text: String, lang: String, src: String) =
      s"""{"doc_id":$id,"text":${str(text)},"lang":"$lang","source":"$src","n_chars":${text.length}}"""
    Files.write(dir.resolve("documents.jsonl"),
      d.toSeq.map(x => doc(x.id, x.text, x.lang, x.source)).asJava)
    Files.write(dir.resolve("eval.jsonl"),
      ev.toSeq.zipWithIndex.map { case (t, i) => doc(i.toLong, t, "en", "eval") }.asJava)
    Files.write(dir.resolve("embeddings.jsonl"),
      d.toSeq.map(x => s"""{"vec_id":${x.id},"embedding":[${x.emb.mkString(",")}]}""").asJava)
  }

  def stage(dir: Path): Unit = {
    val (d, ev) = Gen.corpus(c.seed, cfg)
    docs = d; evalTexts = ev
    write(d, ev, dir)
    in = dir
    bounds()
  }

  /** The kept count if SemDeDup finds every planted near-copy (`keptLo`)
    * and if it finds none (`keptHi`), replaying the gates, redaction,
    * exact dedup and decontamination on the driver. */
  private def bounds(): Unit = {
    val stop = java.util.regex.Pattern.compile(TextOps.StopRe)
    val pii = java.util.regex.Pattern.compile(TextOps.PiiRe)
    def redact(t: String) = pii.matcher(t).replaceAll("<PII>")
    val evalFps = evalTexts.map(redact).toSet
    def keptIf(drop: Set[Long]): Long = docs.iterator
      .filter(d => !drop(d.id) && d.text.length >= 50 && stop.matcher(d.text).find())
      .map(d => redact(d.text)).toSet.count(t => !evalFps(t)).toLong
    // planted near-copy edges → components; all but the smallest id drop
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = { val p = parent.getOrElse(x, x); if (p == x) x else { val r = find(p); parent(x) = r; r } }
    docs.filter(_.nearOf >= 0).foreach { d =>
      val (a, b) = (find(d.id), find(d.nearOf))
      if (a != b) parent(math.max(a, b)) = math.min(a, b)
    }
    val losers = docs.iterator.map(_.id).filter(id => find(id) != id).toSet
    planted = losers.size
    keptLo = keptIf(losers); keptHi = keptIf(Set.empty)
  }

  private def build(dir: Path, out: Path): CorpusBuild.Result = {
    val r = c.span("corpus.semdedup")(CorpusBuild.run(spark, CorpusBuild.Inputs(
      Sources.readDocumentsJsonl(spark, s"$dir/documents.jsonl"),
      Some(Sources.readDocumentsJsonl(spark, s"$dir/eval.jsonl")),
      Some(CorpusBuild.SemDedup(
        spark.read.schema(CorpusWorkload.EmbeddingSchema).json(s"$dir/embeddings.jsonl"),
        SimilarityOps.SemPreset.Frontier, tau)))))
    c.span("corpus.write")(CorpusBuild.write(r, out.toString))
    r
  }

  def warmup(): Unit = {
    val (d, ev) = Gen.corpus(c.seed ^ 0x77L, cfg.copy(nDocs = math.max(600, cfg.nDocs / 3)))
    val dir = c.dir("warm/corpus")
    write(d, ev, dir)
    build(dir, c.work.resolve("warm/corpus-out")).release()
  }

  def op(k: Int): Long = {
    lastOut = c.work.resolve(s"corpus-out/op$k")
    last = build(in, lastOut)
    docs.length
  }

  def check(k: Int): Boolean = {
    val (r, out) = (last, lastOut)
    val errs = Seq.newBuilder[String]
    // the report CSVs the job wrote, and the corpus read back
    def report(name: String): Seq[Array[String]] =
      Files.list(out.resolve(name)).toArray.map(_.asInstanceOf[Path])
        .filter(_.getFileName.toString.startsWith("part-"))
        .flatMap(p => Files.readAllLines(p).asScala.drop(1).map(_.split(","))).toSeq
    val funnel = report("funnel").sortBy(_(0).toInt).map(_(2).toLong)
    val written = spark.read.parquet(s"$out/corpus")
    val keptRows = written.select("doc_id", "shard", "text").collect()
    val n = keptRows.length.toLong
    val semDropped = funnel(0) - funnel(1)
    if (funnel.last != n) errs += s"funnel end ${funnel.last} != written $n"
    if (n < keptLo || n > keptHi) errs += s"kept $n outside [$keptLo, $keptHi]"
    if (semDropped > planted || semDropped < planted * 9 / 10)
      errs += s"semantic drops $semDropped vs $planted planted near-copies"
    // shard totals: the shard table and the md5 nibble of every kept id
    val md5 = java.security.MessageDigest.getInstance("MD5")
    val byShard = keptRows.groupBy { row =>
      Character.digit(graft.functions.Keccak256.hex(
        md5.digest(row.getLong(0).toString.getBytes("UTF-8"))).charAt(0), 16)
    }.map { case (s, l) => s -> l.length.toLong }
    val shards = report("shards").map(x => x(0).toInt -> x(1).toLong).toMap
    if (shards != byShard) errs += s"shard totals $shards != md5 recount $byShard"
    if (keptRows.exists(x => x.getInt(1) != Character.digit(graft.functions.Keccak256.hex(
        md5.digest(x.getLong(0).toString.getBytes("UTF-8"))).charAt(0), 16)))
      errs += "a doc sits in the wrong shard"
    val texts = keptRows.map(_.getString(2))
    if (texts.distinct.length != texts.length) errs += "duplicate kept texts"
    if (texts.exists(t => java.util.regex.Pattern.compile(TextOps.PiiRe).matcher(t).find()))
      errs += "PII survived"
    keptCounts += n
    if (keptCounts.size > 1) errs += s"kept count changed between ops: $keptCounts"
    kept = n
    r.release()
    if (k > 0) Workload.deleteTree(c.work.resolve(s"corpus-out/op${k - 1}"))
    errs.result().foreach(e => System.err.println(s"[perfbench] corpus op $k: $e"))
    errs.result().isEmpty
  }

  def bytesPerRow: Double =
    Workload.dataFiles(lastOut.resolve("corpus"))._1.toDouble / math.max(1L, kept)
  def rawTxs: Array[String] = Array.empty
  def enrichedPerOp: Double = 0.0

  def layerExtras(m: Metrics, ops: Int, txRowsIn: Double): Unit = {
    m("corpus.kept_ratio", "ratio", kept.toDouble / docs.length)
    m("sinks.files_written", "count", Workload.dataFiles(lastOut)._2.toDouble)
  }
}

object CorpusWorkload {
  val EmbeddingSchema: org.apache.spark.sql.types.StructType =
    new org.apache.spark.sql.types.StructType()
      .add("vec_id", org.apache.spark.sql.types.LongType)
      .add("embedding", org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType))
}
