package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.Tables
import graft.pipeline.{Curation, Dedup, Similarity}

/** Training-data curation: each op takes one fresh corpus shard (its own
  * documents and embeddings) in a new session through near-duplicate
  * detection (Dedup.minhashLsh → ngramJaccard → clusters), benchmark
  * contamination, the kNN graph and embedding admission.
  *
  * A shard is never revisited by a timed op: the pipeline's memos key on
  * (session, dir) and live as long as the JVM, so a repeat would time a
  * memo hit instead of the work.
  */
final class CurationBatch(data: String, tracer: Option[Tracer])
    extends Workload {
  private val k = Knobs.read(data)
  private val shards = k.long("shards").toInt
  private val shardDocs = k.long("shard_docs")
  private var next = 0
  /** What each shard that ran (warm-up included) returned. */
  final case class Out(contamination: Seq[Row], jaccard: Seq[Row], hash: String)
  private val outs = scala.collection.mutable.Map.empty[Int, Out]

  private def shardDir(i: Int) = f"$data/shard_$i%03d"

  override def knobs: Map[String, Any] = Map(
    "calls" -> "minhashLsh,ngramJaccard,clusters,contamination,knnGraph,embAdmission",
    "session" -> "new session per shard")

  override def hasNext: Boolean = next < shards

  /** The full call set over the first shard. */
  override def warmup(s: SparkSession): Unit = {
    shard(s, new Op("warmup"), next)
    next += 1
  }

  override def run(s: SparkSession, op: Op, i: Int): Unit = {
    op.kind = "shard"
    val id = next
    next += 1
    shard(s, op, id)
  }

  private def rowsOf(df: DataFrame): Seq[Row] = df.collect().toSeq

  /** The full call set over shard `i` in a fresh session, under the
    * parent's store root.
    */
  private def shard(parent: SparkSession, op: Op, i: Int): Unit = {
    val s = parent.newSession()
    s.conf.set(Main.StoreRoot, parent.conf.get(Main.StoreRoot))
    tracer.foreach(_.attach(s))
    val dir = shardDir(i)
    val lsh = op.leg("minhash")(rowsOf(Dedup.minhashLsh(s, dir)))
    val jac = op.leg("jaccard")(rowsOf(Dedup.ngramJaccard(s, dir)))
    val cl = op.leg("clusters")(rowsOf(Dedup.clusters(s, dir)))
    val con = op.leg("contamination")(rowsOf(Curation.contamination(s, dir)))
    val knnDf = Similarity.knnGraph(s, dir)
    val knn = op.leg("knn")(rowsOf(knnDf))
    if (tracer.isDefined) op.attrs("knn_join_rows") = PlanStats.joinRows(knnDf)
    val adm = op.leg("emb_admission")(rowsOf(Dedup.embAdmission(s, dir)))
    op.attrs("candidate_pairs") = lsh.size
    op.attrs("verified_pairs") = jac.size
    op.attrs("knn_rows") = knn.size
    op.attrs("planted_recall") = plantedRecall(i, jac)
    outs(i) = Out(con, jac, Stats.sha(Seq(lsh, jac, cl, con, knn, adm).zipWithIndex
      .flatMap { case (rs, j) => rs.map(r => s"$j|${r.toSeq.mkString("|")}") }))
  }

  /** Share of the generator's planted near-duplicate pairs that the
    * verified (Jaccard) pairs contain.
    */
  private def plantedRecall(i: Int, jac: Seq[Row]): Double = {
    val planted = """\[(\d+),\s*(\d+)\]""".r.findAllMatchIn(new String(
      Files.readAllBytes(Paths.get(shardDir(i), "planted.json")), UTF_8))
      .map(m => (m.group(1).toLong, m.group(2).toLong)).toSeq
    val found = jac.map(r => (r.getLong(0), r.getLong(1))).toSet
    if (planted.isEmpty) 1.0 else planted.count(found).toDouble / planted.size
  }

  /** Every shard that ran, the warm-up's included, against oracles
    * computed here from its documents: contamination row for row
    * against a doc-level brute force, and the verified pairs against a
    * direct word-3-gram Jaccard (each pair's value, and every pair of
    * identical texts present). The output hash of a shard must also
    * equal the first one recorded for it in this checkout.
    */
  override def check(s: SparkSession, ops: Seq[Op]): Seq[(String, Boolean, String)] = {
    val oracle = outs.toSeq.sortBy(_._1).flatMap { case (i, out) =>
      val rows = Tables.documents(s, shardDir(i)).select("doc_id", "text").collect()
      val docs = rows.map(r => r.getLong(0) -> shingles(r.getString(1))).toMap
      val texts = rows.groupBy(_.getString(1)).values
        .map(_.map(_.getLong(0)).sorted).filter(_.length > 1)
      val con = out.contamination.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
      val wantCon = contaminationOracle(docs)
      val jac = out.jaccard.map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      val badValue = jac.count { case ((a, b), j) =>
        val want = jaccard(docs(a), docs(b))
        want < 0.5 || math.abs(want - j) > 1e-9
      }
      val identical = texts.toSeq.flatMap(ids => ids.combinations(2).map(p => (p(0), p(1))))
      val missing = identical.count(p => !jac.get(p).contains(1.0))
      Seq(
        (s"contamination_eq_bruteforce_shard$i", con == wantCon && con.nonEmpty,
          s"${con.size} rows, brute force ${wantCon.size}"),
        (s"jaccard_pairs_exact_shard$i", badValue == 0 && missing == 0 && jac.nonEmpty,
          s"${jac.size} pairs: $badValue with a wrong value, " +
            s"$missing of ${identical.size} identical-text pairs missing"))
    }
    val store = Paths.get(data, "hashes.txt")
    val known = if (Files.exists(store))
      new String(Files.readAllBytes(store), UTF_8).linesIterator
        .map(_.split(' ')).collect { case Array(a, b) => a.toInt -> b }.toMap
      else Map.empty[Int, String]
    val hashes = outs.map { case (i, o) => i -> o.hash }.toMap
    val clash = hashes.toSeq.filter { case (i, h) => known.get(i).exists(_ != h) }
    // the first hash recorded for a shard stays the reference
    Files.write(store, (hashes ++ known).toSeq.sortBy(_._1)
      .map { case (i, h) => s"$i $h" }.mkString("", "\n", "\n").getBytes(UTF_8))
    oracle :+ (("curation_hash_per_seed", clash.isEmpty,
      s"${hashes.size} shards hashed, ${hashes.count(h => known.contains(h._1))} recorded " +
        s"before, mismatched: ${clash.map(_._1).mkString(",")}"))
  }

  private def shingles(text: String): Set[String] = {
    val w = text.split(" ").filter(_.nonEmpty)
    if (w.length < 3) Set.empty
    else (0 to w.length - 3).map(i => s"${w(i)} ${w(i + 1)} ${w(i + 2)}").toSet
  }

  private def jaccard(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty && b.isEmpty) 1.0 else a.intersect(b).size.toDouble / a.union(b).size

  /** The engine's train/eval split: md5 of the id, first four hex
    * digits, mod 100; train below 80.
    */
  private def bucket(id: Long): Long = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes(UTF_8)).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(h.substring(0, 4), 16) % 100
  }

  /** (train doc, shingles it shares with eval docs, eval docs sharing
    * any of them), for every train doc that shares one.
    */
  private def contaminationOracle(docs: Map[Long, Set[String]]): Seq[(Long, Long, Long)] = {
    val (train, eval) = docs.toSeq.partition { case (id, _) => bucket(id) < 80 }
    val evalShingles = eval.flatMap(_._2).toSet
    train.flatMap { case (id, sh) =>
      val shared = sh.intersect(evalShingles)
      if (shared.isEmpty) None
      else Some((id, shared.size.toLong, eval.count(_._2.exists(shared.contains)).toLong))
    }.sorted
  }

  override def detail(ops: Seq[Op]): Map[String, Double] = {
    val xs = ops.filter(_.kind == "shard")
    Map(
      "docs_per_s" -> xs.size * shardDocs / (xs.map(_.ms).sum / 1000.0),
      "dedup.planted_recall" -> Stats.median(xs.map(_.attrs("planted_recall"))))
  }

  override def layers(ops: Seq[Op]): Map[String, Double] = {
    val t = tracer.get
    val xs = ops.filter(_.kind == "shard")
    def med(leg: String) = Stats.median(xs.map(_.legMs(leg)))
    def mean(f: Op => Double) = if (xs.isEmpty) 0.0 else xs.map(f).sum / xs.size
    val vecs = k.long("shard_vecs").toDouble
    Map(
      "dedup.minhash_ms" -> med("minhash"),
      "dedup.jaccard_ms" -> med("jaccard"),
      "dedup.clusters_ms" -> med("clusters"),
      "dedup.emb_admission_ms" -> med("emb_admission"),
      "dedup.candidate_pairs" -> mean(_.attrs("candidate_pairs")),
      "dedup.verified_frac" -> mean(o =>
        o.attrs("verified_pairs") / math.max(1.0, o.attrs("candidate_pairs"))),
      "dedup.planted_recall" -> mean(_.attrs("planted_recall")),
      "curation.contamination_ms" -> med("contamination"),
      "curation.jobs_outside_group" -> mean(o => t.outsideGroupIn(o, "contamination").toDouble),
      "similarity.knn_ms" -> med("knn"),
      "similarity.candidates_per_query" -> mean(_.attrs("knn_join_rows") / vecs))
  }
}
