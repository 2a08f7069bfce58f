package perfbench

import java.sql.Timestamp

/** Seeded input generator. Every input of every workload — table rows,
  * the portal request stream, the manager identities and outcomes, the
  * curation corpus with its batch split and planted copies — is a pure
  * function of (seed, stream, index), so the same seed gives the same
  * inputs on any host and in any thread. The program under test only ever
  * receives the generated rows and requests.
  */
object Gen {

  /** splitmix64 finalizer. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def hash(seed: Long, stream: Int, i: Long): Long = mix(mix(seed * 1000003L + stream) ^ i)
  def unit(seed: Long, stream: Int, i: Long): Double =
    (hash(seed, stream, i) >>> 11) * (1.0 / (1L << 53))
  def below(seed: Long, stream: Int, i: Long, n: Int): Int =
    java.lang.Long.remainderUnsigned(hash(seed, stream, i), n.toLong).toInt

  /** Inverse-CDF sampler over weights (index = outcome). */
  final class Weighted(weights: Array[Double]) extends Serializable {
    private val cdf = { val total = weights.sum; weights.scanLeft(0.0)(_ + _).tail.map(_ / total) }
    def apply(u: Double): Int = {
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(cdf.length - 1, if (i >= 0) i else -i - 1)
    }
  }
  def zipf(n: Int, s: Double): Weighted =
    new Weighted(Array.tabulate(n)(k => 1.0 / math.pow(k + 1, s)))

  val T0: Long = Timestamp.valueOf("2024-01-01 00:00:00").getTime

  // ---------------------------------------------------------------- portal

  val RecordTypes = Seq("singlepoint", "optimization", "torsiondrive", "manybody")
  private val recordTypeW = new Weighted(Array(0.6, 0.25, 0.1, 0.05))
  val Statuses = Seq("complete", "error", "waiting", "running", "invalid", "cancelled", "deleted")
  private val statusW = new Weighted(Array(0.55, 0.08, 0.15, 0.07, 0.05, 0.05, 0.05))
  val Managers: Seq[String] = (0 until 20).map(i => f"mgr_$i%02d")
  val Users: Seq[String] = (0 until 50).map(i => f"user_$i%02d")
  private val managerZ = zipf(Managers.size, 1.0)
  private val userZ = zipf(Users.size, 1.0)
  val SpecNames: Seq[String] = (0 until 6).map(i => s"spec_$i")
  val Pages: Seq[String] = (0 until 50).map(i => s"p$i")
  val Devices = Seq("ios", "android", "web")
  private val pageZ = zipf(Pages.size, 0.9)

  val PortalRecords = 50000
  val Datasets = 200
  val ItemsPerDataset = 600 // 100 entries × 6 specifications, each pair once
  val PortalEvents = 30000
  val VectorCount = 2000
  val Dim = 32
  val VectorClusters = 24

  def portalRecord(seed: Long, id: Long): PRecord = {
    val status = Statuses(statusW(unit(seed, 11, id)))
    val created = T0 + id * 30000L + below(seed, 12, id, 20000)
    PRecord(
      record_id = id,
      record_type = RecordTypes(recordTypeW(unit(seed, 13, id))),
      is_service = unit(seed, 14, id) < 0.05,
      status = status,
      manager_name = if (status == "waiting") null else Managers(managerZ(unit(seed, 15, id))),
      created_on = new Timestamp(created),
      modified_on = new Timestamp(created + below(seed, 16, id, 7 * 86400) * 1000L),
      creator_user = Users(userZ(unit(seed, 17, id))),
      specification_id = 1L + below(seed, 18, id, 500),
      molecule_id = 1L + below(seed, 19, id, 20000))
  }

  /** Item i of the dataset matrix: dataset i / ItemsPerDataset, entry and
    * specification from i's position inside it, record drawn from the
    * seed. */
  def portalItem(seed: Long, i: Long): PItem = {
    val j = (i % ItemsPerDataset).toInt
    PItem(dataset_id = i / ItemsPerDataset, entry_name = s"e${j / SpecNames.size}",
      specification_name = SpecNames(j % SpecNames.size),
      record_id = 1L + below(seed, 21, i, PortalRecords))
  }

  def portalEvent(seed: Long, id: Long): PEvent = {
    val k = below(seed, 31, id, 100)
    val page = Pages(pageZ(unit(seed, 32, id)))
    val dev = Devices(below(seed, 33, id, Devices.size))
    PEvent(event_id = id, user_id = below(seed, 34, id, 5000).toLong,
      event_type = Seq("click", "view", "purchase", "signup")(below(seed, 35, id, 4)),
      ts = new Timestamp(T0 + id * 1000L),
      props = s"""{"k": $k, "page": "$page", "dev": "$dev"}""")
  }

  /** Clustered unit-free vectors: a seeded centre per cluster plus noise,
    * so an IVF quantizer has real structure to find. */
  def vector(seed: Long, id: Long): PVector = {
    val c = below(seed, 41, id, VectorClusters)
    val v = Array.tabulate(Dim) { d =>
      val centre = unit(seed, 42, c.toLong * Dim + d) * 2 - 1
      centre + (unit(seed, 43, id * Dim + d) - 0.5) * 0.6
    }
    PVector(id, v.toSeq)
  }

  // ------------------------------------------------------ portal requests

  sealed trait Req { def kind: String; def key: String }
  final case class QueryReq(status: Seq[String], recordType: Seq[String],
      manager: Seq[String], user: Seq[String], createdAfter: Option[Long],
      createdBefore: Option[Long], limit: Int, pages: Int) extends Req {
    def kind = "query"
    def key = s"query|${status.mkString(",")}|${recordType.mkString(",")}|" +
      s"${manager.mkString(",")}|${user.mkString(",")}|$createdAfter|$createdBefore|$limit|$pages"
  }
  final case class HydrateReq(ids: Seq[Long], include: Seq[String],
      exclude: Seq[String]) extends Req {
    def kind = "hydrate"
    def key = s"hydrate|${ids.mkString(",")}|${include.mkString(",")}|${exclude.mkString(",")}"
  }
  final case class DatasetReq(datasetId: Long, matrix: Boolean) extends Req {
    def kind = if (matrix) "status_matrix" else "compile_values"
    def key = s"$kind|$datasetId"
  }
  final case class JsonReq(required: Seq[(String, String)], limit: Int) extends Req {
    def kind = "json_contains"
    def key = s"json|${required.map { case (k, v) => s"$k=$v" }.mkString(",")}|$limit"
  }
  final case class KnnReq(qIds: Seq[Long], k: Int) extends Req {
    def kind = "knn"
    def key = s"knn|${qIds.mkString(",")}|$k"
  }

  /** One cycle of the request mix, as (kind, shape) per slot: 4 queries,
    * 2 hydrates, a status matrix and a compile_values, 2 JSON filters and
    * a kNN probe. The shape fixes a request's size (filter count, page
    * size, id count), so every cycle asks the same amount of work whatever
    * the seed; the seed picks the values. A timed window serves whole
    * cycles, so every run sees the same mix. */
  val Cycle: Array[(Int, Int)] =
    Array((0, 0), (1, 0), (0, 1), (3, 0), (2, 0), (0, 2), (4, 0), (1, 1), (2, 1), (0, 3), (3, 1))
  /** Each slot draws from a pool of this many distinct requests with
    * Zipf popularity, so popular requests repeat. */
  val PoolSize = 64
  private val poolZ = zipf(PoolSize, 1.1)
  private val idZ = zipf(PortalRecords, 1.05)
  private val datasetZ = zipf(Datasets, 1.1)
  private val vecZ = zipf(VectorCount, 1.1)
  /** (filter kinds, page size) of the query shapes. Filter kinds: 0
    * status, 1 record type, 2 manager, 3 creator, 4 created-on window (the
    * one that lets the scan skip row groups). */
  private val queryShapes = Seq((Set(0), 100), (Set(2, 4), 500), (Set(0, 1, 3), 200), (Set(3, 4), 1000))
  private val hydrateIds = Seq(50, 150)
  /** (condition count, page size) of the JSON shapes. */
  private val jsonShapes = Seq((1, 200), (2, 500))
  val KnnQueries = 4
  val KnnK = 10

  /** The i-th request of the portal stream: its slot in the cycle, then a
    * Zipf-popular member of that slot's pool. */
  def portalRequest(seed: Long, i: Long): Req = {
    val (kind, shape) = Cycle((i % Cycle.length).toInt)
    pooledRequest(seed, kind, shape, poolZ(unit(seed, 99, i)))
  }

  /** The j-th warm-up request: the same cycle and pools as the timed
    * stream, drawn independently of it, so popular requests have been
    * served once before timing starts, as on a portal that has been up. */
  def warmRequest(seed: Long, j: Int): Req = {
    val (kind, shape) = Cycle(j % Cycle.length)
    pooledRequest(seed, kind, shape, poolZ(unit(seed, 98, j)))
  }

  /** The first `n` distinct values of a seeded draw. */
  private def distinctDraws(n: Int)(draw: Int => Long): Seq[Long] =
    Iterator.from(0).map(draw).scanLeft(Vector.empty[Long])((acc, x) => if (acc.contains(x)) acc else acc :+ x)
      .dropWhile(_.size < n).next()

  /** Member `p` of the pool of a kind and shape. Ids, datasets, query
    * vectors and filter values inside it are Zipf-skewed as well. */
  def pooledRequest(seed: Long, kind: Int, shape: Int, p: Int): Req = {
    val i = (kind.toLong << 40) + (shape.toLong << 32) + p
    def u(s: Int) = unit(seed, 100 + s, i)
    def b(s: Int, n: Int) = below(seed, 100 + s, i, n)
    kind match {
      case 0 =>
        val (kinds, limit) = queryShapes(shape)
        // a created_on window a few thousand records wide
        val after = if (kinds(4)) Some(T0 + b(8, PortalRecords) * 30000L) else None
        QueryReq(
          status = if (kinds(0)) (0 to b(2, 2)).map(j => Statuses(statusW(unit(seed, 320 + j, i)))).distinct else Nil,
          recordType = if (kinds(1)) Seq(RecordTypes(recordTypeW(u(4)))) else Nil,
          manager = if (kinds(2)) (0 to b(5, 3)).map(j => Managers(managerZ(unit(seed, 300 + j, i)))).distinct else Nil,
          user = if (kinds(3)) (0 to b(6, 2)).map(j => Users(userZ(unit(seed, 310 + j, i)))).distinct else Nil,
          createdAfter = after,
          createdBefore = after.map(_ + (1000L + b(9, 7000)) * 30000L),
          limit = limit,
          pages = 2)
      case 1 =>
        val ids = distinctDraws(hydrateIds(shape))(j => 1L + idZ(unit(seed, 400, (i << 12) + j)))
        val includes = Seq(Nil, Seq("*"), Seq("status", "manager_name"), Seq("**"))
        val excludes = Seq(Nil, Seq("modified_on"), Seq("creator_user", "molecule_id"))
        HydrateReq(ids, includes(b(21, includes.size)), excludes(b(22, excludes.size)))
      case 2 => DatasetReq(datasetZ(u(30)).toLong, matrix = shape == 0)
      case 3 =>
        val (nConds, limit) = jsonShapes(shape)
        val req = Seq("page" -> Pages(pageZ(u(40))), "dev" -> Devices(b(41, Devices.size)),
          "k" -> b(42, 100).toString)
        JsonReq(req.take(nConds), limit)
      case _ =>
        KnnReq(distinctDraws(KnnQueries)(j => vecZ(unit(seed, 500, (i << 12) + j)).toLong), KnnK)
    }
  }

  // ---------------------------------------------------------------- manager

  val Tags: Seq[String] = Seq("tag_a", "tag_b", "tag_c", "tag_d", "tag_e", "tag_f")
  val Programs: Seq[String] = Seq("psi4", "rdkit", "geometric", "xtb", "torchani")
  private val tagW = new Weighted(Array(0.3, 0.2, 0.15, 0.15, 0.1, 0.1))
  val Tasks = 40000
  val ClaimLimit = 200

  final case class ManagerId(name: String, tags: Seq[String], programs: Seq[String]) {
    def key = s"$name|${tags.mkString(",")}|${programs.mkString(",")}"
  }

  /** Four manager identities: three serve a seeded ordered tag list, one
    * serves every tag ('*'); each runs a seeded subset of programs. */
  def managers(seed: Long): Seq[ManagerId] = (0 until 4).map { m =>
    val order = Tags.sortBy(t => hash(seed, 600 + m, t.hashCode.toLong))
    val tags = if (m == 3) Seq("*") else order.take(2 + below(seed, 610, m, 3))
    val progs = Programs.sortBy(p => hash(seed, 620 + m, p.hashCode.toLong))
      .take(3 + below(seed, 630, m, 3))
    ManagerId(s"manager_$m", tags, progs)
  }

  def task(seed: Long, id: Long): MTask = {
    val nProg = 1 + below(seed, 701, id, 2)
    MTask(task_id = id, record_id = id, available = unit(seed, 702, id) < 0.92,
      compute_tag = Tags(tagW(unit(seed, 703, id))),
      compute_priority = below(seed, 704, id, 3),
      sort_date = new Timestamp(T0 + id * 10000L + below(seed, 705, id, 5000)),
      required_programs = (0 until nProg).map(j => Programs(below(seed, 710 + j, id, Programs.size))).distinct)
  }

  /** The manager workload's record for task `id`: waiting while its task
    * is available, running otherwise. */
  def taskRecord(seed: Long, id: Long): PRecord = {
    val t = task(seed, id)
    PRecord(id, "singlepoint", false, if (t.available) "waiting" else "running",
      null, t.sort_date, t.sort_date, Users(below(seed, 720, id, Users.size)),
      1L + below(seed, 721, id, 50), 1L + below(seed, 722, id, 5000))
  }

  def taskItem(seed: Long, id: Long): PItem =
    PItem(id % 8, s"e$id", SpecNames(below(seed, 730, id, 3)), id)

  /** Seeded outcome of a returned task: complete or error. */
  def outcome(seed: Long, taskId: Long): String =
    if (unit(seed, 740, taskId) < 0.85) "complete" else "error"

  // --------------------------------------------------------------- curation

  val Vocab: Seq[String] = Seq("a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
    "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
    "value", "vector", "window") ++ (0 until 93).map(i => s"w$i")
  private val vocabZ = zipf(Vocab.size, 0.8)
  val BatchDocs = 1000
  val CurationBatches = 16
  val QueriesPerBatch = 8

  /** One arriving batch: `BatchDocs` docs with ids continuing the previous
    * batch's. About 6% are planted copies (whitespace-perturbed, so the
    * text differs but the token shingles are identical): half copy a doc
    * of the same batch, half (from batch 1 on) a doc of an earlier batch.
    * Every source is an original, so it must survive. */
  def batch(seed: Long, b: Int): CBatch = {
    val base = b.toLong * BatchDocs
    val docs = Array.ofDim[CDoc](BatchDocs)
    val copies = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    for (j <- 0 until BatchDocs) {
      val id = base + j
      val u = unit(seed, 800, id)
      val copyWithin = j > 10 && u < 0.03
      val copyAcross = b > 0 && u >= 0.03 && u < 0.06
      if (copyWithin || copyAcross) {
        // sources are originals: re-draw until the pick is not a copy
        var src = -1L; var t = 0
        while (src < 0) {
          val cand = if (copyWithin) base + below(seed, 801 + t, id, j)
                     else below(seed, 801 + t, id, b * BatchDocs).toLong
          if (!isCopy(seed, cand)) src = cand
          t += 1
        }
        copies += id -> src
        docs(j) = CDoc(id, b, perturb(seed, id, originalText(seed, src)))
      } else docs(j) = CDoc(id, b, originalText(seed, id))
    }
    val queries = (0 until QueriesPerBatch).map { q =>
      val qid = b.toLong * QueriesPerBatch + q
      val n = 2 + below(seed, 820, qid, 2)
      qid -> (0 until n).map(t => Vocab(below(seed, 821 + t, qid, Vocab.size))).distinct
    }
    CBatch(b, docs.toSeq, copies.toSeq, queries)
  }

  private def isCopy(seed: Long, id: Long): Boolean = {
    val j = id % BatchDocs; val u = unit(seed, 800, id)
    (j > 10 && u < 0.03) || (id >= BatchDocs && u >= 0.03 && u < 0.06)
  }

  def originalText(seed: Long, id: Long): String = {
    val n = 20 + below(seed, 810, id, 41)
    (0 until n).map(t => Vocab(vocabZ(unit(seed, 811, id * 64 + t)))).mkString(" ")
  }

  /** Same tokens, different whitespace: doubled spaces, tabs, newlines. */
  private def perturb(seed: Long, id: Long, text: String): String = {
    val seps = Seq("  ", "\t", "\n", " ")
    val toks = text.split(' ')
    val sb = new StringBuilder(toks(0))
    for (t <- 1 until toks.length) sb.append(seps(below(seed, 830, id * 64 + t, seps.size))).append(toks(t))
    sb.toString
  }

  // ---------------------------------------------------------------- digest

  /** SHA-256 over the canonical form of a workload's generated inputs:
    * the first `n` portal requests, the manager identities with the first
    * `n` task outcomes, or the first batches of the curation split. */
  def digest(workload: String, seed: Long, n: Int = 2048): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def add(s: String): Unit = md.update((s + "\n").getBytes("UTF-8"))
    workload match {
      case "portal_reads" => (0 until n).foreach(i => add(portalRequest(seed, i).key))
      case "manager_cycle" =>
        managers(seed).foreach(m => add(m.key))
        (1 to n).foreach(t => add(s"${task(seed, t)}|${outcome(seed, t)}"))
      case "curation_ingest" =>
        (0 until 4).foreach { b =>
          val cb = batch(seed, b)
          cb.docs.foreach(d => add(s"${d.doc_id}|${d.text}"))
          add(cb.copies.mkString(",")); add(cb.queries.mkString(","))
        }
    }
    md.digest().map(x => f"${x & 0xff}%02x").mkString.take(16)
  }
}

final case class PRecord(record_id: Long, record_type: String, is_service: Boolean,
    status: String, manager_name: String, created_on: Timestamp, modified_on: Timestamp,
    creator_user: String, specification_id: Long, molecule_id: Long)
final case class PItem(dataset_id: Long, entry_name: String, specification_name: String,
    record_id: Long)
final case class PEvent(event_id: Long, user_id: Long, event_type: String, ts: Timestamp,
    props: String)
final case class PVector(vec_id: Long, c_vec: Seq[Double])
final case class MTask(task_id: Long, record_id: Long, available: Boolean, compute_tag: String,
    compute_priority: Int, sort_date: Timestamp, required_programs: Seq[String])
final case class CDoc(doc_id: Long, batch: Int, text: String)
final case class CBatch(index: Int, docs: Seq[CDoc], copies: Seq[(Long, Long)],
    queries: Seq[(Long, Seq[String])])
