package perfbench

import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicInteger
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{Engine, Schemas, Tables}
import graft.operators.{Relational => R}

/** Closed-loop API traffic: a fixed number of callers share one session
  * and issue a seeded, Zipf-skewed mix of Engine endpoints over the
  * domain tables. Every response is checked against an in-memory
  * reference built from the same generated rows. */
final class ApiLookup(cfg: Config, seed: Long, callers: Int) extends Workload {
  val name = "api_lookup"
  private def n(k: String) = cfg.int(name, k)
  private val zs = cfg.dbl(name, "zipf_s")
  private val maxPage = n("max_page_size")

  // ---- generated rows (schema order) ------------------------------------
  private val rng = new Rng(seed)
  private val t0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime
  private def ts(r: Rng): Timestamp = new Timestamp(t0 + r.nextInt(2 * 365 * 86400).toLong * 1000L)
  private def hex(r: Rng, digits: Int) = f"${r.nextLong()}%016x".take(digits)

  private val users: Array[Row] = {
    val r = rng.fork("users")
    Array.tabulate(n("users")) { i =>
      val role = { val x = r.nextDouble(); if (x < 0.02) "admin" else if (x < 0.3) "analyst" else "viewer" }
      val created = ts(r)
      Row(f"u$i%06d-${hex(r, 12)}", s"user$i@example.org", s"user$i", s"User Number $i",
        hex(r, 16), role, r.chance(0.9), created, created,
        if (r.chance(0.2)) null else new Timestamp(created.getTime + r.nextInt(86400 * 30) * 1000L))
    }
  }
  private val projects: Array[(String, Int)] = {
    val r = rng.fork("projects")
    Array.tabulate(n("projects"))(i => (f"p$i%05d-${hex(r, 8)}", r.nextInt(users.length)))
  }
  private val files: Array[Row] = {
    val r = rng.fork("files"); val zp = new Zipf(projects.length, zs)
    Array.tabulate(n("files")) { i =>
      val (pid, owner) = projects(zp.sample(r))
      val ownerId = users(if (r.chance(0.8)) owner else r.nextInt(users.length)).getString(0)
      val ft = r.pick(Schemas.FileTypes.toIndexedSeq)
      Row(f"f$i%07d-${hex(r, 8)}", s"file_$i.dat", s"IMG_$i.raw", ft, 1000L + r.nextInt(50000000),
        "application/octet-stream", hex(r, 16), s"/data/$pid/$i", pid, ownerId,
        s"""{"camera":"c${r.nextInt(9)}"}""",
        if (r.chance(0.1)) null else Row(-180 + 360 * r.nextDouble(), -90 + 180 * r.nextDouble()),
        r.chance(0.5), ts(r))
    }
  }
  private val filesByProject: Map[String, Array[Row]] = files.groupBy(_.getString(8))
  private val statuses = Schemas.ProcessingStatuses.toIndexedSeq
  private val tasks: Array[Row] = {
    val r = rng.fork("tasks"); val zp = new Zipf(projects.length, zs)
    Array.tabulate(n("tasks")) { i =>
      val (pid, owner) = projects(zp.sample(r))
      val pool = filesByProject.getOrElse(pid, files)
      val inputs = Seq.fill(1 + r.nextInt(4))(pool(r.nextInt(pool.length)).getString(0))
      val status = { val x = r.nextDouble()
        if (x < 0.3) "pending" else if (x < 0.45) "processing" else if (x < 0.85) "completed"
        else if (x < 0.95) "failed" else "cancelled" }
      val created = ts(r)
      Row(f"t$i%06d-${hex(r, 8)}", r.pick(IndexedSeq("orthomosaic", "dsm", "ndvi", "classify")),
        pid, users(owner).getString(0), inputs, Seq.empty[String], """{"q":"high"}""", status,
        r.nextInt(101) / 100.0, 1 + r.nextInt(10), if (status == "failed") "boom" else null,
        if (status == "pending") null else new Timestamp(created.getTime + 60000L),
        if (status == "completed") new Timestamp(created.getTime + 3600000L) else null, created)
    }
  }
  private val eventSchema = StructType(Seq(StructField("event_id", LongType, nullable = false),
    StructField("task_id", StringType, nullable = false),
    StructField("status", StringType, nullable = false), StructField("ts", TimestampType, nullable = false)))
  private val events: Array[Row] = {
    val r = rng.fork("events"); val zt = new Zipf(tasks.length, zs)
    Array.tabulate(n("status_events"))(i =>
      Row(i.toLong, tasks(zt.sample(r)).getString(0), r.pick(statuses), ts(r)))
  }
  private val audits: Array[Row] = {
    val r = rng.fork("audit"); val zu = new Zipf(users.length, zs)
    Array.tabulate(n("audit_logs")) { i =>
      Row(f"a$i%06d-${hex(r, 8)}", if (r.chance(0.02)) null else users(zu.sample(r)).getString(0),
        r.pick(IndexedSeq("login", "upload", "delete", "update")), "file", files(r.nextInt(files.length)).getString(0),
        "{}", s"10.0.${r.nextInt(256)}.${r.nextInt(256)}", "agent/1.0", ts(r))
    }
  }

  // ---- request sequences --------------------------------------------------
  final case class Req(kind: String, key: String = null, key2: String = null, role: String = null,
                       a: Int = 0, b: Int = 0, opt: Option[Any] = None)

  private val kinds: IndexedSeq[String] =
    cfg.node("workloads", name, "endpoints").elements().asScala.map(_.asText()).toIndexedSeq
  private val admins = users.filter(_.getString(5) == "admin")

  private def request(r: Rng, kind: String): Req = {
    val zu = zUsers; val zp = zProjects; val zt = zTasks
    // request popularity follows data size: the hottest user, project and
    // task are the ones with the most audit rows, files and status events,
    // so every seed puts the same weight on the heavy keys
    def user = users(zu.sample(r))
    def proj = projects(zp.sample(r))
    def task = tasks(zt.sample(r))
    kind match {
      case "getUser" => Req(kind, user.getString(0))
      case "findAccount" => val u = user; Req(kind, if (r.chance(0.5)) u.getString(2) else u.getString(1))
      case "listUsers" =>
        Req(kind, a = zSkip.sample(r), b = r.pick(IndexedSeq(10, 20, 50, maxPage)),
          opt = r.pick(IndexedSeq(None, Some(true), Some(false))))
      case "listProjectFiles" =>
        val (pid, owner) = proj
        val u = { val x = r.nextDouble()
          if (x < 0.7) users(owner) else if (x < 0.8) r.pick(admins.toIndexedSeq) else users(r.nextInt(users.length)) }
        Req(kind, pid, u.getString(0), u.getString(5), a = 1 + zPage.sample(r),
          b = r.pick(IndexedSeq(10, 20, 50, maxPage)),
          opt = if (r.chance(0.6)) None else Some(r.pick(Schemas.FileTypes.toIndexedSeq)))
      case "nextPendingTasks" => Req(kind, a = r.pick(IndexedSeq(5, 10, 20, 50, maxPage)))
      case "currentTaskStatus" => Req(kind, task.getString(0))
      case "projectProgress" => Req(kind, proj._1)
      case "auditTrail" => Req(kind, user.getString(0))
      case "taskInputFiles" => Req(kind, task.getString(0))
    }
  }
  private lazy val zUsers = new Zipf(users.length, zs)
  private lazy val zProjects = new Zipf(projects.length, zs)
  private lazy val zTasks = new Zipf(tasks.length, zs)
  private lazy val zSkip = new Zipf(2000, zs)
  private lazy val zPage = new Zipf(10, zs)
  /** Blocks holding each endpoint once, shuffled within the block: any
    * run-length prefix has an equal mix, so seeds differ in keys and
    * parameters only. */
  private lazy val requests: Array[Req] = {
    val r = rng.fork("requests")
    val block = kinds.toArray
    Array.fill(n("requests_generated") / block.length) {
      val b = block.clone()
      for (i <- b.length - 1 to 1 by -1) { val j = r.nextInt(i + 1); val t = b(i); b(i) = b(j); b(j) = t }
      b.map(request(r, _))
    }.flatten
  }
  private lazy val warmup: Seq[Req] = {
    val r = rng.fork("warmup")
    kinds.flatMap(k => Seq.fill(n("warmup_requests_per_endpoint"))(request(r, k)))
  }

  // ---- Spark side -----------------------------------------------------------
  private var tbl: Map[String, DataFrame] = Map.empty
  private val recorded = new java.util.concurrent.ConcurrentHashMap[String, String]()
  def digests: Map[String, String] = recorded.asScala.toMap

  def prepare(spark: SparkSession, dir: String): Unit = Workload.cached(dir) {
    Workload.writeParquet(spark, users.toSeq, Schemas.users, s"$dir/users.parquet", 2)
    Workload.writeParquet(spark, files.toSeq, Schemas.files, s"$dir/files.parquet", 4)
    Workload.writeParquet(spark, tasks.toSeq, Schemas.processingTasks, s"$dir/processing_tasks.parquet", 4)
    Workload.writeParquet(spark, events.toSeq, eventSchema, s"$dir/status_events.parquet", 4)
    Workload.writeParquet(spark, audits.toSeq, Schemas.auditLogs, s"$dir/audit_logs.parquet", 4)
  }

  /** Build the request's DataFrames (Engine layer) and collect them. */
  private def call(spark: SparkSession, tr: Tracer, q: Req): Seq[Array[Row]] = {
    val dfs: Seq[DataFrame] = tr.span("Engine.call") {
      q.kind match {
        case "getUser" => Seq(Engine.getUser(tbl("users"), q.key))
        case "findAccount" => Seq(Engine.findAccount(tbl("users"), q.key))
        case "listUsers" =>
          Seq(Engine.listUsers(tbl("users"), q.a, q.b, q.opt.map(_.asInstanceOf[Boolean])))
        case "listProjectFiles" =>
          val ft = q.opt.map(_.asInstanceOf[String])
          val scoped = R.optionalFilter(
            R.forUser(tbl("files"), "owner_id", q.key2, q.role).filter(col("project_id") === q.key),
            "file_type", ft)
          Seq(Engine.listProjectFiles(tbl("files"), q.key, q.key2, q.role, ft, q.a, q.b),
            Engine.pageMeta(scoped, q.b))
        case "nextPendingTasks" => Seq(Engine.nextPendingTasks(tbl("processing_tasks"), q.a))
        case "currentTaskStatus" =>
          Seq(Engine.currentTaskStatus(tbl("status_events").filter(col("task_id") === q.key)))
        case "projectProgress" =>
          Seq(Engine.projectProgress(tbl("processing_tasks").filter(col("project_id") === q.key)))
        case "auditTrail" =>
          Seq(Engine.auditTrail(tbl("audit_logs").filter(col("user_id") === q.key), tbl("users"))
            .orderBy(col("created_at").desc, col("id").asc).limit(maxPage))
        case "taskInputFiles" =>
          Seq(Engine.taskInputFiles(tbl("processing_tasks").filter(col("id") === q.key), tbl("files")))
      }
    }
    tr.span("sink")(dfs.map(_.collect()))
  }

  // ---- in-memory reference ---------------------------------------------------
  private def cmpTsId(a: Row, b: Row, tsIdx: Int): Boolean = {
    val c = a.getAs[Timestamp](tsIdx).compareTo(b.getAs[Timestamp](tsIdx))
    if (c != 0) c < 0 else a.getString(0) < b.getString(0)
  }
  private lazy val usersById = users.map(u => u.getString(0) -> u).toMap
  private lazy val usersSorted = users.sortWith((a, b) => cmpTsId(a, b, 7))
  private lazy val filesById = files.map(f => f.getString(0) -> f).toMap
  private lazy val pendingSorted = tasks.filter(_.getString(7) == "pending").sortWith { (a, b) =>
    if (a.getInt(9) != b.getInt(9)) a.getInt(9) > b.getInt(9) else cmpTsId(a, b, 13) }
  private lazy val eventsByTask = events.groupBy(_.getString(1))
  private lazy val tasksByProject = tasks.groupBy(_.getString(2))
  private lazy val tasksById = tasks.map(t => t.getString(0) -> t).toMap
  private lazy val auditsByUser = audits.filter(_.get(1) != null).groupBy(_.getString(1))

  private def reference(q: Req): Seq[Seq[Seq[Any]]] = q.kind match {
    case "getUser" => Seq(usersById.get(q.key).map(_.toSeq).toSeq)
    case "findAccount" => Seq(users.find(u => u.getString(2) == q.key || u.getString(1) == q.key).map(_.toSeq).toSeq)
    case "listUsers" =>
      val act = q.opt.map(_.asInstanceOf[Boolean])
      Seq(usersSorted.iterator.filter(u => act.forall(_ == u.getBoolean(6))).slice(q.a, q.a + q.b)
        .map(u => Seq(0, 1, 2, 3, 5, 6, 7, 9).map(u.get)).toSeq)
    case "listProjectFiles" =>
      val ft = q.opt.map(_.asInstanceOf[String])
      val scoped = filesByProject.getOrElse(q.key, Array.empty[Row]).filter(f =>
        (q.role == "admin" || f.getString(9) == q.key2) && ft.forall(_ == f.getString(3)))
      val page = scoped.sortWith((a, b) => cmpTsId(a, b, 13)).slice((q.a - 1) * q.b, q.a * q.b)
      Seq(page.map(f => Seq(0, 1, 2, 3, 4, 5, 6, 8, 9, 12, 13).map(f.get)).toSeq,
        Seq(Seq(scoped.length.toLong, math.ceil(scoped.length.toDouble / q.b).toLong)))
    case "nextPendingTasks" => Seq(pendingSorted.take(q.a).map(_.toSeq).toSeq)
    case "currentTaskStatus" =>
      Seq(eventsByTask.get(q.key).map(_.maxBy(e => (e.getAs[Timestamp](3).getTime, e.getLong(0)))).map(_.toSeq).toSeq)
    case "projectProgress" =>
      Seq(tasksByProject.get(q.key).map { ts =>
        val p = ts.map(_.getDouble(8))
        Seq(q.key, p.min, p.max, p.sum / p.length)
      }.toSeq)
    case "auditTrail" =>
      val rows = auditsByUser.getOrElse(q.key, Array.empty[Row]).sortWith { (a, b) =>
        val c = a.getAs[Timestamp](8).compareTo(b.getAs[Timestamp](8))
        if (c != 0) c > 0 else a.getString(0) < b.getString(0) }.take(maxPage)
      Seq(rows.map(a => Seq(a.get(1)) ++ Seq(0, 2, 3, 4, 5, 6, 7, 8).map(a.get) ++
        Seq(usersById(a.getString(1)).getString(2))).toSeq)
    case "taskInputFiles" =>
      Seq(tasksById.get(q.key).toSeq.flatMap { t =>
        t.getSeq[String](4).flatMap(fid => filesById.get(fid).map(f => Seq(t.getString(0), t.get(4)) ++ f.toSeq))
      })
  }

  private def digestOf(res: Seq[Array[Row]]): String =
    res.map(Digest.ofRows).mkString("|")
  private def expected(q: Req): String = reference(q).map(Digest.of(_)).mkString("|")
  private def label(q: Req): String = s"${q.kind}(${Seq(q.key, q.key2, q.a, q.b, q.opt).mkString(",")})"

  def setup(spark: SparkSession, dir: String, tr: Tracer, round: Int): Seq[String] = {
    tbl = tr.span("Tables.resolve") {
      Seq("users", "files", "processing_tasks", "status_events", "audit_logs")
        .map(t => t -> Tables.load(spark, dir, t)).toMap
    }
    warmup.zipWithIndex.flatMap { case (q, i) =>
      val got = digestOf(call(spark, tr, q))
      recorded.put(f"warmup$i%03d.${q.kind}", got)
      if (got == expected(q)) None else Some(s"${label(q)}: digest $got != reference ${expected(q)}")
    }
  }

  def measure(spark: SparkSession, tr: Tracer, deadlineNs: Long): Measured = {
    val next = new AtomicInteger(0)
    val results = new ConcurrentLinkedQueue[(OpRecord, Req, Either[Throwable, String])]()
    val start = System.nanoTime()
    val threads = (0 until callers).map { c =>
      val t = new Thread(() => {
        while (System.nanoTime() < deadlineNs) {
          val q = requests(next.getAndIncrement() % requests.length)
          val (op, r) = Workload.timedOp(spark, tr, "api." + q.kind)(call(spark, tr, q))
          results.add((op, q, r.map(digestOf)))
        }
      }, s"api-caller-$c")
      t.start(); t
    }
    threads.foreach(_.join())
    val wallS = (System.nanoTime() - start) / 1e9
    val rs = results.asScala.toSeq
    val failures = rs.flatMap {
      case (_, q, Left(e)) => Some(s"${label(q)}: ${Workload.describe(e)}")
      case (_, q, Right(d)) => val e = expected(q); if (d == e) None else Some(s"${label(q)}: digest $d != reference $e")
    }
    val lat = rs.map { case (op, _, _) => (op.endNs - op.startNs) / 1e6 }
    Measured(lat, rs.size.toDouble, wallS, rs.map(_._1), rs.size, failures, Map.empty)
  }
}
