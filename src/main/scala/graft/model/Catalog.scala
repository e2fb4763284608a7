package graft.model

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{StructField, StructType}

import graft.streaming.NioCheckpointFileManager

/** Self-describing topic↔table catalog (SURVEY §1.1/§2.9): the analog of
  * the reference's `ros_sql_metadata` tables
  * [upstream: ros_sql/models.py], persisted as one small JSON document
  * (`catalog.json` under `path`) that the driver reads and writes through
  * the recorder's [[NioCheckpointFileManager]] — no Spark job per call,
  * no forked process on a local path, and Spark's own file manager on
  * HDFS/S3. One row per recorded (topic, schema version): topic name,
  * mangled table name, message type name, schema fingerprint, schema
  * DDL, version number, and the FINGERPRINT CHAIN — a hash chain
  * (chain₁ = fp₁, chainₖ = md5(chainₖ₋₁ ‖ fpₖ)) over the topic's schema
  * history, so the whole evolution lineage is summarized by one
  * tamper-evident value and two catalogs that agree on the latest chain
  * agree on EVERY historical version. Readback verifies the fingerprint
  * before reconstructing typed objects — the md5-check the reference
  * performs in sql2msg — and names the matching historical version when
  * a stale reader shows up.
  *
  * Every write replaces the document atomically (`createAtomic` with
  * overwrite: a hidden temp file renamed over the old one), so a crash
  * mid-write leaves the previous catalog intact.
  * A `path` still holding the earlier parquet-table layout fails loudly
  * instead of reading as empty.
  *
  * Schema EVOLUTION rule (register on an existing topic with a new
  * schema): additive changes — new fields, which must be nullable so
  * already-recorded rows stay readable; or nullability relaxation of an
  * existing field — append a new version to the chain. Anything else
  * (dropped field, changed type, non-null tightening) throws: the parquet
  * already written under the old schema cannot satisfy the new contract.
  *
  * At cluster scale this is driver-side-tiny (a few rows per topic); a
  * real deployment would keep it in the metastore or a Delta table — the
  * API here is the seam.
  */
final case class TopicMeta(
    topic: String,
    table: String,
    msgType: String,
    fingerprint: String,
    schemaDdl: String,
    version: Int,
    chain: String)

final class Catalog(spark: SparkSession, path: String) {
  import spark.implicits._

  private val dir = new Path(path)
  private val doc = new Path(dir, Catalog.DocName)
  private val files =
    new NioCheckpointFileManager(dir, spark.sparkContext.hadoopConfiguration)
  private val lockKey = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    .makeQualified(dir).toString

  /** Registers `schema` as `topic`'s current version and returns its
    * row (the current row, unchanged, when the schema is). Registrations
    * on one catalog path are serialized within this JVM, across every
    * `Catalog` instance on that path. */
  def register(topic: String, msgType: String, schema: StructType): TopicMeta =
    Catalog.lockFor(lockKey).synchronized {
      registerLocked(topic, msgType, schema)
    }

  private def registerLocked(topic: String, msgType: String,
                             schema: StructType): TopicMeta = {
    val fp = SchemaMapper.fingerprint(schema)
    val table = SchemaMapper.namify(topic)
    val rows = allVersions()
    val others = rows.filter(_.topic != topic)
    // namify is lossy ("/a/b" and "/a-b" both mangle to "a_b") — a
    // silent collision would interleave two topics' data in one path
    others.find(_.table == table).foreach { clash =>
      throw new IllegalArgumentException(
        s"table name collision: topic '$topic' and '${clash.topic}' both " +
        s"mangle to '$table' — rename one topic")
    }
    val mine = rows.filter(_.topic == topic).sortBy(_.version)
    val meta = mine.lastOption match {
      case Some(cur) if cur.fingerprint == fp =>
        // idempotent re-registration of the current schema: no new
        // version, the chain is untouched
        return cur
      case Some(cur) =>
        val curSchema = StructType.fromDDL(cur.schemaDdl)
        Catalog.additiveDrift(curSchema, schema).foreach { why =>
          throw new IllegalStateException(
            s"incompatible schema change for $topic (v${cur.version} → " +
            s"next): $why — already-recorded rows cannot satisfy the " +
            s"new contract; record under a new topic instead")
        }
        TopicMeta(topic, table, msgType, fp, schema.toDDL,
          cur.version + 1, Catalog.chainStep(cur.chain, fp))
      case None =>
        TopicMeta(topic, table, msgType, fp, schema.toDDL, 1, fp)
    }
    replace(others ++ mine :+ meta)
    meta
  }

  /** Replace the document with `rows`: readers see the old catalog or
    * the new one, never a partial or missing one. */
  private def replace(rows: Seq[TopicMeta]): Unit = {
    val out = files.createAtomic(doc, overwriteIfPossible = true)
    try out.write(JsonDoc.write(rows).getBytes(UTF_8))
    catch { case e: Throwable => out.cancel(); throw e }
    out.close()
  }

  /** Every (topic, version) row. Empty ONLY when the catalog doesn't
    * exist yet (first registration). Any other read failure propagates,
    * a document that is not a list of complete rows included:
    * swallowing it here would let register() overwrite the catalog with
    * a single topic, silently dropping every other topic's metadata.
    * register() is read-then-replace: it holds a lock per catalog path
    * within one JVM, and callers in separate processes must serialize
    * themselves. */
  def allVersions(): Seq[TopicMeta] =
    if (files.exists(doc)) {
      val in = files.open(doc)
      val text = try new String(in.readAllBytes(), UTF_8) finally in.close()
      JsonDoc.objs(text, s"catalog $doc").map(f => TopicMeta(
        f.str("topic"), f.str("table"), f.str("msgType"),
        f.str("fingerprint"), f.str("schemaDdl"), f.int("version"),
        f.str("chain")))
    } else {
      // temp files of an interrupted write are hidden; anything else
      // means `path` is not an (empty) catalog
      val found = if (!files.exists(dir)) Seq.empty[String]
        else files.list(dir).toSeq.map(_.getPath.getName)
          .filterNot(_.startsWith("."))
      if (found.exists(n => n.endsWith(".parquet") || n == "_SUCCESS"))
        throw new IllegalStateException(
          s"catalog $path holds the legacy parquet-table layout " +
          s"(${found.sorted.mkString(", ")}), not ${Catalog.DocName} — " +
          "move it aside and re-register its topics")
      if (found.nonEmpty)
        throw new IllegalStateException(
          s"catalog $path has no ${Catalog.DocName} but holds " +
          s"${found.sorted.mkString(", ")} — not a catalog directory")
      Seq.empty
    }

  /** Latest version per topic (the view pre-evolution callers had). */
  def all(): Seq[TopicMeta] =
    allVersions().groupBy(_.topic).values.map(_.maxBy(_.version)).toSeq

  /** The topic's full schema-version chain, oldest first. */
  def history(topic: String): Seq[TopicMeta] =
    allVersions().filter(_.topic == topic).sortBy(_.version)

  def lookup(topic: String): Option[TopicMeta] =
    history(topic).lastOption

  /** Readback guard: fail fast when the stored schema no longer matches
    * the requested type — the reference's md5 mismatch error. A reader
    * holding an OLDER version of the chain is told which version it
    * matches, not just that it drifted. */
  def verified(topic: String, expected: StructType): TopicMeta = {
    val chain = history(topic)
    val meta = chain.lastOption.getOrElse(
      throw new IllegalArgumentException(s"topic not recorded: $topic"))
    val fp = SchemaMapper.fingerprint(expected)
    if (meta.fingerprint != fp) {
      val stale = chain.find(_.fingerprint == fp)
      val hint = stale.map(m =>
          s" (requested schema matches HISTORICAL v${m.version} — " +
          s"reader is stale)")
        .getOrElse(" (requested schema matches no recorded version)")
      throw new IllegalArgumentException(
        s"schema drift for $topic: recorded ${meta.fingerprint} " +
        s"(v${meta.version}), requested $fp$hint")
    }
    meta
  }

  /** DataFrame view (latest per topic) with the same missing-path
    * contract as [[all]] (empty before the first registration). */
  def asDF: DataFrame = all().toDS().toDF()
}

object Catalog {
  /** The catalog document's file name under the catalog path. */
  private val DocName = "catalog.json"

  /** One lock per qualified catalog path, shared by every instance. */
  private val locks = new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  private def lockFor(path: String): AnyRef =
    locks.computeIfAbsent(path, _ => new AnyRef)

  /** One hash-chain step: chainₖ = md5(chainₖ₋₁ ‖ '→' ‖ fpₖ). */
  def chainStep(prevChain: String, fp: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(s"$prevChain→$fp".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  /** None when `next` is an ADDITIVE evolution of `cur` (every current
    * field kept with its type, nullability only ever relaxed, added
    * fields nullable); Some(reason) naming the first violation. */
  def additiveDrift(cur: StructType, next: StructType): Option[String] = {
    val nextByName = next.fields.map(f => f.name -> f).toMap
    val kept: Option[String] = cur.fields.view.flatMap {
      old: StructField =>
        nextByName.get(old.name) match {
          case None => Some(s"field '${old.name}' dropped")
          case Some(f) if f.dataType != old.dataType =>
            Some(s"field '${old.name}' type changed " +
              s"${old.dataType.simpleString} → ${f.dataType.simpleString}")
          case Some(f) if !f.nullable && old.nullable =>
            Some(s"field '${old.name}' tightened to non-null " +
              "(recorded rows may hold nulls)")
          case _ => None
        }
    }.headOption
    lazy val curNames = cur.fieldNames.toSet
    kept.orElse {
      next.fields.view.flatMap { f =>
        if (!curNames.contains(f.name) && !f.nullable)
          Some(s"new field '${f.name}' must be nullable " +
            "(already-recorded rows have no value for it)")
        else None
      }.headOption
    }
  }
}
