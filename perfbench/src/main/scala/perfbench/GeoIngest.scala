package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.SplittableRandom

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.functions.GeoSql
import graft.spatial.{GeoTable, GeometryFields, Snapshots}

/** The benchmark's model of the table: live id -> v. Ids are never reused,
  * so a predicate delete on an id range can only ever hit the rows it hit
  * when it was committed.
  */
final class LiveModel {
  private val ids = ArrayBuffer[Long]()
  private val pos = mutable.LongMap[Int]()
  val v = mutable.LongMap[Long]()
  def size: Int = ids.size
  def put(id: Long, value: Long): Unit = {
    if (!pos.contains(id)) { pos(id) = ids.size; ids += id }
    v(id) = value
  }
  def remove(id: Long): Unit = pos.remove(id).foreach { i =>
    val last = ids.remove(ids.size - 1)
    if (last != id) { ids(i) = last; pos(last) = i }
    v.remove(id)
  }
  def sample(r: SplittableRandom, k: Int): Seq[Long] =
    if (ids.isEmpty) Nil else Seq.fill(k)(ids(r.nextInt(ids.size))).distinct
  def digest: Digest = {
    var c = 0L; var s = 0L; var h = 0L
    v.foreach { case (id, x) => c += 1; s += id; h ^= XXH64.hashLong(x, XXH64.hashLong(id, 42L)) }
    Digest(c, s, h)
  }
}

/** The ingest phase of the geo workload: a write-heavy closed loop on one
  * merge-on-read geo table — batch and streaming appends, predicate and
  * positional deletes, upserts, checked reads and periodic maintenance.
  * Every op makes a new table version, so version-keyed metadata caches
  * keep missing: the stand-in for a working set larger than the caches.
  */
final class IngestPhase(ctx: Ctx) {
  import IngestPhase._
  private val spark = ctx.spark
  private val t = ctx.tracer
  private val c = ctx.client
  private val gen = new GeoGen(ctx.args.seed, 0)
  private val rnd = new SplittableRandom(ctx.args.seed * 131 + 3)
  private def mkRow(id: Long, v: Long) = { val (_, x, y, _, _) = gen.row(id); (id, x, y, v) }
  private val initial = (0L until InitialRows).map(id => mkRow(id, rnd.nextInt(1000000).toLong))
  private val ns = ctx.work.resolve("catalog").resolve("db")
  private var tableDir: Path = _
  private def path = tableDir.toString
  private val model = new LiveModel
  initial.foreach { case (id, _, _, v) => model.put(id, v) }
  private var nextId = InitialRows.toLong
  private var stream: StreamingQuery = _
  private var input: MemoryStream[(Long, Double, Double, Long)] = _
  private var written: WrittenFiles = _
  private var setupBytes = Map.empty[String, Long]
  private var v0 = 0
  private var userBytes = 0L
  private var ingestRows = 0L
  private var maintain = 0
  private var timedNs0 = 0L
  private val deck = new Deck(Mix, rnd)

  /** Rows in the table's shape: the geometry and its shadow bbox column
    * (`GeoTable.withBbox`), which `Snapshots.mergeUpsert` requires of its
    * source. */
  private def shaped(df: DataFrame): DataFrame =
    GeoTable.withBbox(df.withColumn("geom", GeoSql.st_point(col("x"), col("y"))), "geom")

  private def rowsDf(rows: Seq[(Long, Double, Double, Long)]): DataFrame = {
    import spark.implicits._
    shaped(rows.toDF("id", "x", "y", "v"))
  }

  /** Create the table (one of the repeated set-ups). */
  def setup(i: Int): Unit = {
    Files.createDirectories(ns)
    val p = ns.resolve(s"t$i")
    t.span("spatial", "GeoTable.write#ingest")(
      GeoTable.write(rowsDf(initial), p.toString, "geom", numFiles = 4))
    t.span("spatial", "Snapshots.updateProperties")(Snapshots.updateProperties(p.toString,
      Map("write.delete.mode" -> "merge-on-read", "write.merge.mode" -> "merge-on-read")))
    tableDir = p
  }

  /** Start the streaming face: one long-running query, fed one micro-batch
    * per stream op. Returns its seconds. */
  def prepare(): Double = {
    val s0 = System.nanoTime()
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    input = MemoryStream[(Long, Double, Double, Long)]
    stream = t.span("streaming", "writeStream.format(graft).start")(
      shaped(input.toDF().toDF("id", "x", "y", "v"))
        .writeStream.format("graft")
        .option("checkpointLocation", ctx.work.resolve("stream-ckpt").toString)
        .start(path))
    written = new WrittenFiles(tableDir)
    written.scan()
    setupBytes = written.snapshot
    v0 = Snapshots.currentVersion(path)
    timedNs0 = c.timedNs
    (System.nanoTime() - s0) / 1e9
  }

  private def committed(rows: Seq[(Long, Double, Double, Long)]): Unit = {
    rows.foreach { case (id, _, _, v) => model.put(id, v) }
    userBytes += rows.size * RowBytes
    ingestRows += rows.size
  }

  /** One op dealt from the seeded deck [[IngestPhase.Mix]]. */
  def op(): Unit = {
    dealt(deck.next())
    written.scan()
  }

  private def dealt(kind: String): Unit = kind match {
    case "append" =>
      val rows = (0 until AppendRows).map(i => mkRow(nextId + i, rnd.nextInt(1000000).toLong))
      nextId += AppendRows
      c.run("append") {
        t.span("spatial", "Snapshots.append")(Snapshots.append(rowsDf(rows), path))
        ((), rows.size.toLong)
      }(_ => None).foreach(_ => committed(rows))
    case "stream" =>
      val rows = (0 until StreamRows).map(i => mkRow(nextId + i, rnd.nextInt(1000000).toLong))
      nextId += StreamRows
      c.run("stream") {
        t.span("streaming", "MemoryStream.addData")(input.addData(rows))
        t.span("streaming", "processAllAvailable")(stream.processAllAvailable())
        ((), rows.size.toLong)
      }(_ => None).foreach(_ => committed(rows))
    case "delete" =>
      // a range of ids already written: the predicate stays in force at read
      // time, so a range reaching past the highest id would also hide rows
      // appended later. Ids are never reused, so it hits only these rows.
      val a = model.sample(rnd, 1).headOption.getOrElse(0L)
      val b = math.min(a + 20 + rnd.nextInt(180), nextId)
      c.run("delete") {
        t.span("spatial", "Snapshots.deleteMoR")(Snapshots.deleteMoR(spark, path, s"id >= $a AND id < $b"))
        ((), 0L)
      }(_ => None).foreach(_ => (a until b).foreach(model.remove))
    case "posdelete" =>
      val ids = model.sample(rnd, 50)
      c.run("posdelete") {
        t.span("spatial", "Snapshots.delete")(Snapshots.delete(spark, path, col("id").isin(ids: _*)))
        ((), 0L)
      }(_ => None).foreach(_ => ids.foreach(model.remove))
    case "merge" =>
      val old = model.sample(rnd, UpsertRows * 3 / 4)
      val fresh = (0 until UpsertRows - old.size).map(nextId + _)
      nextId += fresh.size
      val rows = (old ++ fresh).map(id => mkRow(id, rnd.nextInt(1000000).toLong))
      c.run("merge") {
        t.span("spatial", "Snapshots.mergeUpsert")(Snapshots.mergeUpsert(spark, path, rowsDf(rows), "id"))
        ((), rows.size.toLong)
      }(_ => None).foreach(_ => committed(rows))
    case "read" =>
      val want = model.digest
      c.run("read", "graft") {
        val df = t.span("sources", "format(graft).load")(spark.read.format("graft").load(path))
        val d = t.span("spark", "collect")(digestOf(df))
        (d, d.count)
      }(Digest.check(_, want))
    case "maintain" =>
      val which = maintain % 3
      maintain += 1
      c.run("maintain") {
        which match {
          case 0 => t.span("spatial", "Snapshots.rewriteDataFiles")(Snapshots.rewriteDataFiles(spark, path))
          case 1 => t.span("spatial", "Snapshots.expireSnapshots")(Snapshots.expireSnapshots(spark, path, keep = 10))
          case _ => t.span("spatial", "Snapshots.removeOrphanFiles")(Snapshots.removeOrphanFiles(spark, path))
        }
        ((), 0L)
      }(_ => None)
  }

  private var faceResults = Seq.empty[(String, Either[String, Digest])]
  private var mismatched = Seq.empty[String]
  private var commits = 0
  private var timedS = 0.0

  /** After the timed ops: stop the stream and, with `audit`, hand the
    * model to the durability check and read the final table through every
    * public read face. */
  def finish(audit: Boolean): Unit = {
    timedS = (c.timedNs - timedNs0) / 1e9
    stream.stop()
    commits = Snapshots.currentVersion(path) - v0
    if (audit) auditFaces()
  }

  private def auditFaces(): Unit = {
    // the table is final: run.py starts the fresh-JVM durability check as
    // soon as this file appears
    val want = model.digest
    val tmp = ctx.work.resolve("durability_expect.json.tmp")
    Json.write(tmp, Map("path" -> path, "count" -> want.count, "sum" -> want.sum, "xor" -> want.xor))
    Files.move(tmp, ctx.work.resolve("durability_expect.json"), StandardCopyOption.ATOMIC_MOVE)

    val faces: Seq[(String, () => DataFrame)] = Seq(
      "format(graft)" -> (() => spark.read.format("graft").load(path)),
      "Snapshots.read" -> (() => Snapshots.read(spark, path)),
      "GeoTable.read" -> (() => GeoTable.read(spark, path)),
      "GeometryFields.readGeo" -> (() => GeometryFields.readGeo(spark, path)),
      "catalog SQL" -> (() => spark.sql(s"SELECT * FROM bench.db.${tableDir.getFileName}")))
    faceResults = faces.map { case (name, df) =>
      name -> (try Right(digestOf(df())) catch { case NonFatal(e) => Left(Client.describe(e)) })
    }
    mismatched = faceResults.collect {
      case (n, Right(d)) if d != want => s"$n: ${d.count} rows, model ${want.count}"
      case (n, Left(e)) => s"$n: threw $e"
    }
    mismatched.foreach(m => System.err.println(s"[perfbench] read face disagrees: $m"))
  }

  private def bytesWritten = {
    val fin = written.snapshot
    fin.map { case (k, v) => k -> (v - setupBytes.getOrElse(k, 0L)) }
  }

  /** Per-layer metrics of this phase (traced runs). */
  def layer: Map[String, Double] = {
    val w = bytesWritten
    Map(
      "spatial.append_ms" -> c.medianMs(_.kind == "append"),
      "spatial.delete_ms" -> c.medianMs(_.kind == "delete"),
      "spatial.posdelete_ms" -> c.medianMs(_.kind == "posdelete"),
      "spatial.merge_ms" -> c.medianMs(_.kind == "merge"),
      "spatial.maintain_ms" -> c.medianMs(_.kind == "maintain"),
      "spatial.commits" -> commits.toDouble,
      "spatial.data_bytes_written" -> w("data").toDouble,
      "spatial.delete_bytes_written" -> w("delete").toDouble,
      "spatial.metadata_bytes_written" -> w("metadata").toDouble,
      "spatial.live_data_files" -> Snapshots.readManifest(path).size.toDouble,
      "spatial.live_delete_files" ->
        (Snapshots.readPosDeletes(path).size + Snapshots.readEqDeletes(path).size).toDouble,
      "spatial.metadata_files" -> Bench.listFiles(tableDir).count(p => !p.toString.endsWith(".parquet")).toDouble,
      "sources.delete_files_applied" -> t.deleteFilesApplied(c, _.kind == "read"))
  }

  /** The workload-specific end-to-end figures of this phase. */
  def extra: Seq[(String, Double, String, Int)] = {
    val w = bytesWritten
    val onDisk = Bench.dirBytes(tableDir)
    Seq(
      ("ingest_rows_per_s", ingestRows / math.max(timedS, 1e-9), "rows/s",
        c.okOps.count(o => Set("append", "stream", "merge")(o.kind))),
      ("write_amp", w.values.sum.toDouble / math.max(1L, userBytes), "B/B", 1),
      ("ingest_space_amp", onDisk.toDouble / math.max(1L, model.size * RowBytes), "B/B", 1)
    ) ++ (if (faceResults.isEmpty) Nil
      else Seq(("read_face_mismatches", mismatched.size.toDouble, "count", faceResults.size)))
  }

  def details: Map[String, Any] = Map(
    "initial_rows" -> InitialRows, "live_rows" -> model.size, "bytes_on_disk" -> Bench.dirBytes(tableDir),
    "commits" -> commits,
    "read_faces" -> faceResults.map { case (n, r) =>
      n -> r.fold(e => s"threw $e", d => if (d == model.digest) "agrees" else s"${d.count} rows, model ${model.digest.count}")
    }.toMap,
    "read_face_mismatches" -> mismatched)
}

object IngestPhase {
  /** The op mix, one deck: 40% appends, 10% stream micro-batches, 10%
    * predicate deletes, 10% positional deletes, 10% upserts, 15% checked
    * reads, 5% maintenance. */
  val Mix: Seq[String] = Seq("append", "stream", "delete", "posdelete", "merge", "read", "maintain") ++
    Seq.fill(7)("append") ++ Seq("stream", "delete", "posdelete", "merge") ++ Seq.fill(2)("read")

  val InitialRows = 10000
  val AppendRows = 500
  val StreamRows = 500
  val UpsertRows = 200
  /** Logical bytes of one row: id, x, y, v (8 each) and a 21-byte WKB point. */
  val RowBytes = 53L

  /** Digest of (id, v) over a read face. */
  def digestOf(df: DataFrame): Digest = Digest.of(Digest.agg(df, Some("v")).collect().head)
}

/** Files written under a table: every (name, size, mtime) seen after an op
  * counts once, so bytes of files that maintenance deletes later still
  * count as written. */
final class WrittenFiles(root: Path) {
  private val seen = mutable.Set[(String, Long, Long)]()
  private val bytes = mutable.Map("data" -> 0L, "delete" -> 0L, "metadata" -> 0L)
  def scan(): Unit = Bench.listFiles(root).foreach { p =>
    val rel = root.relativize(p).toString
    val key = try Some((rel, Files.size(p), Files.getLastModifiedTime(p).toMillis))
      catch { case _: java.io.IOException => None } // deleted since the listing
    key.filter(seen.add).foreach { key =>
      val kind =
        if (!rel.endsWith(".parquet")) "metadata"
        else if (rel.startsWith("_graft_deletes")) "delete"
        else "data"
      bytes(kind) += key._2
    }
  }
  def snapshot: Map[String, Long] = bytes.toMap
}
