package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}
import org.json4s.{JArray, JLong, JObject, JString}
import org.json4s.jackson.JsonMethods

/** Minimal versioned table log: manifest-listed parquet snapshots with
  * time travel and vacuum — the single-writer slice of what
  * Delta/Iceberg give a lakehouse, built from the two primitives HDFS/
  * S3A actually guarantee (task-side file immutability + atomic
  * manifest RENAME).
  *
  * Layout: `path/data/b<batch>/part-*.parquet` (immutable once
  * committed — batches are never rewritten) and
  * `path/_manifests/v<version>.json`, each manifest listing the FULL
  * file set of its snapshot. Commits write data to a NEW batch
  * directory, then publish by renaming a temp manifest into place —
  * readers resolve the latest manifest first, so they see the previous
  * snapshot until the rename lands and never a half-written one
  * (snapshot isolation; the zero-gap contract [[StagedSwap]]
  * documents as out of its reach).
  *
  * - append commits carry the previous manifest's files forward, so
  *   unchanged data is SHARED between versions (no rewrite);
  * - overwrite commits list only the new batch, leaving old batches on
  *   disk for time travel;
  * - [[vacuum]] deletes files unreferenced by the kept manifests.
  *
  * Single-writer by contract (like every maintenance op here);
  * concurrent writers need a real table format's conditional commit.
  * Scale: manifests hold file PATHS (thousands of entries at 100 TB
  * with sanely-sized files) — the O(files) driver cost every
  * manifest-based format pays, far below a listing of the data itself.
  */
object Versioned {

  private def fs(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestDir(path: String) = new Path(path, "_manifests")

  /** Versions present, ascending. */
  def versions(spark: SparkSession, path: String): Seq[Long] = {
    val f = fs(spark, path)
    val dir = manifestDir(path)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).toSeq.map(_.getPath.getName)
      .collect { case n if n.startsWith("v") && n.endsWith(".json") =>
        n.stripPrefix("v").stripSuffix(".json").toLong }
      .sorted
  }

  private def manifestPath(path: String, version: Long) =
    new Path(manifestDir(path), f"v$version%05d.json")

  /** A published manifest: its idempotence token, the snapshot's full
    * file list and its commit-time schema (None only for pre-schema
    * manifests, none of which are written anymore).
    */
  private case class Manifest(txn: Option[String], files: Seq[String],
                              schema: Option[StructType])

  private def manifest(spark: SparkSession, path: String,
                       version: Long): Manifest = {
    val in = fs(spark, path).open(manifestPath(path, version))
    val json =
      try JsonMethods.parse(new String(in.readAllBytes(), "UTF-8"))
      finally in.close()
    def str(field: String): Option[String] = json \ field match {
      case JString(v) => Some(v)
      case _          => None
    }
    Manifest(str("txn"),
      (json \ "files").children.collect { case JString(f) => f },
      str("schemaB64").map(b => DataType.fromJson(new String(
        java.util.Base64.getDecoder.decode(b), "UTF-8"))
        .asInstanceOf[StructType]))
  }

  /** Transaction ids already committed (for idempotent re-commits). */
  def committedTxns(spark: SparkSession, path: String): Set[String] =
    versions(spark, path).flatMap(manifest(spark, path, _).txn).toSet

  /** Commit `df` as the next version. `mode` is `overwrite` (snapshot
    * = this data only) or `append` (snapshot = previous + this).
    * Returns the committed version.
    *
    * `txn`: optional idempotence token. A commit whose token already
    * appears in a published manifest is SKIPPED (returns the current
    * latest version) — the contract that makes a replayed streaming
    * micro-batch (foreachBatch re-delivery after restart) commit
    * exactly once.
    */
  def commit(spark: SparkSession, path: String, df: DataFrame,
             mode: String = "overwrite",
             txn: Option[String] = None): Long = {
    require(mode == "overwrite" || mode == "append", s"bad mode $mode")
    require(txn.forall(t => !t.contains("\"") && !t.contains("\\")),
      "txn token must be free of quotes and backslashes")
    val f = fs(spark, path)
    if (txn.exists(committedTxns(spark, path).contains))
      versions(spark, path).last // replay: already durable, skip
    else commitNew(spark, path, df, mode, txn, f)
  }

  private def commitNew(spark: SparkSession, path: String, df: DataFrame,
                        mode: String, txn: Option[String],
                        f: org.apache.hadoop.fs.FileSystem): Long = {
    val existing = versions(spark, path)
    val next = existing.lastOption.fold(0L)(_ + 1L)
    val batchDir = new Path(path, s"data/b$next")
    // crash safety without a stalled-writer window: the parquet write
    // goes to a PRIVATE uniquely-named temp dir, then renames into the
    // b<next> slot. A writer that died mid-write leaves only its temp
    // dir (vacuum sweeps those); one that died between rename and
    // manifest publish leaves an orphaned b<next> that NO manifest
    // references (manifests list only batches <= their version, and
    // v<next> does not exist — that is why `next` was chosen), which
    // the replayed commit clears. A merely STALLED writer still
    // mid-write can never collide with the retry's files (its dir is
    // private); the race is narrowed to the instant between its rename
    // and the retry's orphan check — the single-writer contract this
    // module already declares covers that metadata-level window.
    val tmpDir = new Path(path,
      s"data/.b$next.tmp-${java.util.UUID.randomUUID().toString}")
    df.write.mode("errorifexists").parquet(tmpDir.toString)
    if (f.exists(batchDir)) f.delete(batchDir, true) // unpublished orphan
    require(f.rename(tmpDir, batchDir),
      s"batch publish rename failed for b$next")
    val newFiles = f.listStatus(batchDir).toSeq.map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).map(_.toString).sorted
    val prev =
      if (mode == "append") existing.lastOption.map(manifest(spark, path, _))
      else None
    val all = prev.fold(Seq.empty[String])(_.files) ++ newFiles
    // snapshot schema: an APPEND's snapshot is carried + new files, so
    // its schema is the UNION of the previous version's schema and the
    // batch's — an appended column widens the snapshot (old files
    // null-fill on read), a column the batch omits keeps existing
    // (batch files null-fill). Same-name fields must agree on type:
    // silently coercing would corrupt either side. Overwrites snapshot
    // exactly the batch schema.
    val snapshotSchema = prev.flatMap(_.schema) match {
      case Some(old) =>
        val byName = df.schema.map(f => f.name -> f).toMap
        old.foreach { pf =>
          byName.get(pf.name).foreach(nf =>
            require(nf.dataType == pf.dataType,
              s"schema evolution type conflict on '${pf.name}': " +
                s"${pf.dataType} vs ${nf.dataType}"))
        }
        val oldNames = old.fieldNames.toSet
        StructType(old.fields ++ df.schema.fields.filterNot(f =>
          oldNames.contains(f.name)))
      case None => df.schema
    }
    // persist the snapshot schema so an empty snapshot (0-partition
    // commit) still reads back as a typed empty frame; every published
    // manifest carries it base64-encoded under `schemaB64`
    val schemaB64 = java.util.Base64.getEncoder.encodeToString(
      snapshotSchema.json.getBytes("UTF-8"))
    val json = JsonMethods.compact(JsonMethods.render(JObject(
      txn.map(t => "txn" -> JString(t)).toList ++ List(
        "version" -> JLong(next), "mode" -> JString(mode),
        "schemaB64" -> JString(schemaB64),
        "files" -> JArray(all.map(JString(_)).toList)))))
    val mDir = manifestDir(path)
    f.mkdirs(mDir)
    // the publish point, all-or-nothing on every backend (tmp+rename
    // where rename is atomic, one atomic PUT on object stores —
    // [[AtomicIo.publishFile]]): readers see the old latest manifest
    // or the new one, never a partial file. NOTE this log design is
    // object-store-safe END TO END: the batch-dir rename above is
    // only a placement optimization (a crashed copy+delete leaves a
    // partial b<next> that no manifest references and the replayed
    // commit deletes), because readers resolve files through the
    // MANIFEST, never by listing data/.
    AtomicIo.publishFile(f, manifestPath(path, next),
      json.getBytes("UTF-8"))
    next
  }

  /** Snapshot file list + commit-time schema, for external table
    * surfaces ([[graft.sources.VersionedTable]]) that build their own
    * scan over the manifest's files. Schema is None only for
    * pre-schema manifests (none are written anymore).
    */
  def snapshot(spark: SparkSession, path: String,
               asOf: Option[Long] = None)
      : (Seq[String], Option[StructType]) = {
    val vs = versions(spark, path)
    require(vs.nonEmpty, s"no committed versions at $path")
    val v = asOf.getOrElse(vs.last)
    require(vs.contains(v), s"version $v not in $vs")
    val m = manifest(spark, path, v)
    (m.files, m.schema)
  }

  /** Read a snapshot: the latest version, or `asOf` for time travel. */
  def read(spark: SparkSession, path: String,
           asOf: Option[Long] = None): DataFrame = {
    val (files, schema) = snapshot(spark, path, asOf)
    if (files.nonEmpty) schema match {
      // read under the COMMIT-TIME snapshot schema: files predating an
      // appended column null-fill it, and the column set/order is the
      // manifest's — never whichever file footer the reader sampled
      // (the nondeterminism an evolved snapshot would otherwise have)
      case Some(s) => spark.read.schema(s).parquet(files: _*)
      case None => spark.read.parquet(files: _*) // pre-schema manifest
    }
    else schema match {
      case Some(s) => spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s)
      case None => spark.emptyDataFrame // pre-schema manifest
    }
  }

  /** Drop manifests older than the newest `keepLast` and delete data
    * files no kept manifest references. Returns deleted file count.
    */
  def vacuum(spark: SparkSession, path: String, keepLast: Int = 1): Int = {
    require(keepLast >= 1, "must keep at least the latest version")
    val f = fs(spark, path)
    val vs = versions(spark, path)
    val (drop, keep) = vs.splitAt((vs.size - keepLast).max(0))
    val live = keep.flatMap(manifest(spark, path, _).files).toSet
    val dead = drop.flatMap(manifest(spark, path, _).files).toSet -- live
    dead.foreach(p => f.delete(new Path(p), false))
    drop.foreach(v => f.delete(manifestPath(path, v), false))
    // empty batch dirs left behind are cosmetic; clear them if
    // drained. Dead writers' private temp dirs (.b*.tmp-*) are
    // unreferenced by construction — sweep them too.
    val dataDir = new Path(path, "data")
    if (f.exists(dataDir))
      f.listStatus(dataDir).foreach { st =>
        if (st.getPath.getName.startsWith(".b") &&
            st.getPath.getName.contains(".tmp-"))
          f.delete(st.getPath, true)
        else if (f.listStatus(st.getPath).isEmpty)
          f.delete(st.getPath, false)
      }
    dead.size
  }
}
