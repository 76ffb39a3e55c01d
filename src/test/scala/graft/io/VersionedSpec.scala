package graft.io

import graft.SparkSpec

/** Versioned table log: snapshot isolation via manifest rename, time
  * travel across overwrite/append commits, shared files between
  * append versions, vacuum reachability.
  */
class VersionedSpec extends SparkSpec {
  import spark.implicits._

  private def freshPath =
    s"${sys.props("java.io.tmpdir")}/graft_ver_${System.nanoTime()}"

  test("commit/read round trip with time travel over three versions") {
    val p = freshPath
    val v0 = Versioned.commit(spark, p, Seq((1L, "a")).toDF("k", "v"))
    val v1 = Versioned.commit(spark, p, Seq((2L, "b")).toDF("k", "v"),
      mode = "append")
    val v2 = Versioned.commit(spark, p, Seq((9L, "z")).toDF("k", "v"),
      mode = "overwrite")
    assert((v0, v1, v2) == (0L, 1L, 2L))
    def rows(asOf: Option[Long]) =
      Versioned.read(spark, p, asOf).as[(Long, String)].collect().toSet
    assert(rows(Some(0L)) == Set((1L, "a")))
    assert(rows(Some(1L)) == Set((1L, "a"), (2L, "b")), "append carries v0")
    assert(rows(Some(2L)) == Set((9L, "z")), "overwrite replaces")
    assert(rows(None) == Set((9L, "z")), "latest wins by default")
  }

  test("append versions SHARE the earlier batch's files (no rewrite)") {
    val p = freshPath
    Versioned.commit(spark, p, Seq((1L, "a")).toDF("k", "v"))
    Versioned.commit(spark, p, Seq((2L, "b")).toDF("k", "v"), "append")
    // v1's manifest must reference v0's physical batch directory
    val fs = new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val m1 = fs.open(new org.apache.hadoop.fs.Path(p, "_manifests/v00001.json"))
    val json = try scala.io.Source.fromInputStream(m1).mkString
    finally m1.close()
    assert(json.contains("/data/b0/") && json.contains("/data/b1/"),
      s"append manifest must carry both batches: $json")
  }

  test("vacuum deletes only unreachable files; kept versions stay readable") {
    val p = freshPath
    Versioned.commit(spark, p, Seq((1L, "a")).toDF("k", "v")) // v0
    Versioned.commit(spark, p, Seq((2L, "b")).toDF("k", "v"), "append") // v1
    Versioned.commit(spark, p, Seq((9L, "z")).toDF("k", "v")) // v2 overwrite
    val deleted = Versioned.vacuum(spark, p, keepLast = 2)
    // keeping v1 (references b0+b1) and v2 (b2): NOTHING is dead —
    // v0's file is shared with v1
    assert(deleted == 0, s"shared files must survive, deleted $deleted")
    assert(Versioned.versions(spark, p) == Seq(1L, 2L))
    assert(Versioned.read(spark, p, Some(1L)).count() == 2)
    // now keep only v2 → b0 and b1 become unreachable
    val deleted2 = Versioned.vacuum(spark, p, keepLast = 1)
    assert(deleted2 >= 2, s"expected b0+b1 files gone, got $deleted2")
    assert(Versioned.read(spark, p, None).as[(Long, String)]
      .collect().toSet == Set((9L, "z")))
    intercept[IllegalArgumentException] {
      Versioned.read(spark, p, Some(0L))
    }
  }

  test("txn token makes re-commits idempotent (exactly-once replays)") {
    val p = freshPath
    val v0 = Versioned.commit(spark, p, Seq((1L, "a")).toDF("k", "v"),
      "append", txn = Some("batch-0"))
    val v1 = Versioned.commit(spark, p, Seq((2L, "b")).toDF("k", "v"),
      "append", txn = Some("batch-1"))
    // replay of batch-0 (restart re-delivery): must be a no-op
    val vReplay = Versioned.commit(spark, p,
      Seq((1L, "a")).toDF("k", "v"), "append", txn = Some("batch-0"))
    assert((v0, v1) == (0L, 1L) && vReplay == 1L,
      s"replay must not mint a version: $vReplay")
    assert(Versioned.versions(spark, p) == Seq(0L, 1L))
    assert(Versioned.read(spark, p, None).count() == 2,
      "no duplicate rows after replay")
    assert(Versioned.committedTxns(spark, p) == Set("batch-0", "batch-1"))
  }

  test("a long txn token still makes its replay a no-op; manifest bytes pinned") {
    val p = freshPath
    // 600 characters: the token's closing quote lands past the
    // manifest's first 512 bytes
    val tok = "t" * 600
    val df = Seq((1L, "a")).toDF("k", "v")
    val v0 = Versioned.commit(spark, p, df, "append", txn = Some(tok))
    val vReplay = Versioned.commit(spark, p, df, "append", txn = Some(tok))
    assert((v0, vReplay) == (0L, 0L), s"replay minted a version: $vReplay")
    assert(Versioned.versions(spark, p) == Seq(0L))
    assert(Versioned.committedTxns(spark, p) == Set(tok))
    val (files, schema) = Versioned.snapshot(spark, p)
    val b64 = java.util.Base64.getEncoder.encodeToString(
      schema.get.json.getBytes("UTF-8"))
    val want = s"""{"txn":"$tok","version":0,"mode":"append",""" +
      s""""schemaB64":"$b64","files":[""" +
      files.map(f => "\"" + f + "\"").mkString(",") + "]}"
    val got = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$p/_manifests/v00000.json")), "UTF-8")
    assert(got == want)
    intercept[IllegalArgumentException] {
      Versioned.commit(spark, p, df, "append", txn = Some("a\\b"))
    }
  }

  test("orphaned batch dir from a crashed commit does not block the retry") {
    val p = freshPath
    Versioned.commit(spark, p, Seq((1L, "a")).toDF("k", "v")) // v0
    // simulate a writer that wrote data/b1 but died BEFORE publishing
    // the v1 manifest — the replayed commit must reclaim the slot
    Seq((99L, "dead")).toDF("k", "v")
      .write.parquet(s"$p/data/b1")
    val v1 = Versioned.commit(spark, p, Seq((2L, "b")).toDF("k", "v"),
      mode = "append", txn = Some("retry-1"))
    assert(v1 == 1L, s"retry must mint v1, got $v1")
    assert(Versioned.read(spark, p, None).as[(Long, String)]
      .collect().toSet == Set((1L, "a"), (2L, "b")),
      "the dead writer's rows must NOT leak into the snapshot")
  }

  test("empty commit reads back as a typed empty frame (schema persisted)") {
    val p = freshPath
    val empty = Seq.empty[(Long, String)].toDF("k", "v").where("k < 0")
      .repartition(1).where("k < -1") // still schema'd, zero rows
    Versioned.commit(spark, p, empty)
    val back = Versioned.read(spark, p, None)
    assert(back.count() == 0)
    assert(back.columns.toSeq == Seq("k", "v"),
      s"schema must survive an empty snapshot: ${back.columns.toSeq}")
    // downstream column references must work
    assert(back.filter($"k" > 0).count() == 0)
  }

  test("a stray temp manifest is never visible to readers") {
    val p = freshPath
    Versioned.commit(spark, p, Seq((1L, "a")).toDF("k", "v"))
    // simulate a writer that died before its publish rename
    val fs = new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(p, "_manifests/.v00001.json.tmp")
    val out = fs.create(tmp, true)
    out.write("{\"version\":1,\"files\":[\"garbage\"]}".getBytes("UTF-8"))
    out.close()
    assert(Versioned.versions(spark, p) == Seq(0L),
      "unpublished manifest must stay invisible")
    assert(Versioned.read(spark, p, None).count() == 1)
  }

  test("schema evolution: appended column widens the snapshot, old rows null-fill") {
    val p = freshPath
    Versioned.commit(spark, p, Seq((1L, "a")).toDF("k", "v"))
    // append a batch that ADDS a column and OMITS nothing
    Versioned.commit(spark, p,
      Seq((2L, "b", 0.5)).toDF("k", "v", "score"), mode = "append")
    val snap = Versioned.read(spark, p, None)
    assert(snap.columns.toSeq == Seq("k", "v", "score"),
      s"snapshot schema must be the union: ${snap.columns.toSeq}")
    val rows = snap.collect().map(r => (r.getLong(0), r.getString(1),
      Option(r.get(2)).map(_.asInstanceOf[Double]))).toSet
    assert(rows == Set((1L, "a", None), (2L, "b", Some(0.5))), rows)
    // append a batch that OMITS a column the table has: column stays,
    // the batch's rows null-fill it
    Versioned.commit(spark, p, Seq((3L, "c")).toDF("k", "v"),
      mode = "append")
    val snap2 = Versioned.read(spark, p, None)
    assert(snap2.columns.toSeq == Seq("k", "v", "score"))
    assert(snap2.filter("k = 3").collect().head.isNullAt(2))
    // time travel still reads each version under ITS schema
    assert(Versioned.read(spark, p, Some(0L)).columns.toSeq == Seq("k", "v"))
    // a type conflict on a same-name column must refuse, not coerce
    intercept[IllegalArgumentException] {
      Versioned.commit(spark, p,
        Seq((4L, "d", "not a double")).toDF("k", "v", "score"),
        mode = "append")
    }
  }
}
