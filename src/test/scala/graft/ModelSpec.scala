package graft

import org.apache.spark.sql.types._

import graft.model.{SchemaMapper, TypeMap}

/** Unit tests for the schema-mapping core (SURVEY §2.9): name mangling,
  * the primitive type map, fingerprints, flattening. */
class ModelSpec extends SparkSpec {
  import spark.implicits._

  test("namify mangles topic names like the reference") {
    assert(SchemaMapper.namify("/robot1/pose") == "robot1_pose")
    assert(SchemaMapper.namify("/a/b-c.d") == "a_b_c_d")
    assert(SchemaMapper.namify("/CamelTopic") == "cameltopic")
    assert(SchemaMapper.namify("/123start") == "t_123start") // leading digit
  }

  test("primitive type map: signed widening, lossless uint64, ns stamps") {
    assert(TypeMap.resolve("int32") == IntegerType)
    assert(TypeMap.resolve("uint8") == ShortType)
    assert(TypeMap.resolve("uint32") == LongType)
    assert(TypeMap.resolve("uint64") == DecimalType(20, 0)) // ref wraps; we don't
    assert(TypeMap.resolve("time") == TypeMap.StampType)
    assert(TypeMap.resolve("float32[]") ==
      ArrayType(FloatType, containsNull = false))
    assert(TypeMap.resolve("uint8[]") == BinaryType) // blobs stay opaque
    intercept[IllegalArgumentException](TypeMap.resolve("nope"))
  }

  test("nested message types resolve through the known-types registry") {
    val header = StructType(Seq(StructField("seq", LongType)))
    assert(TypeMap.resolve("std_msgs/Header", Map("Header" -> header)) == header)
    assert(TypeMap.resolve("Header[]", Map("Header" -> header)) ==
      ArrayType(header, containsNull = false))
  }

  test("fingerprint is stable and order/type sensitive") {
    val a = StructType(Seq(StructField("x", LongType)))
    val b = StructType(Seq(StructField("x", IntegerType)))
    assert(SchemaMapper.fingerprint(a) == SchemaMapper.fingerprint(a.copy()))
    assert(SchemaMapper.fingerprint(a) != SchemaMapper.fingerprint(b))
  }

  test("flatten produces reference-style parent_child columns") {
    val df = Seq((1L, (2.0, (3L, 4L)))).toDF("id", "pose")
      .withColumnRenamed("pose", "pose")
    val nested = spark.createDataFrame(
      df.rdd,
      StructType(Seq(
        StructField("id", LongType),
        StructField("pose", StructType(Seq(
          StructField("x", DoubleType),
          StructField("stamp", StructType(Seq(
            StructField("secs", LongType),
            StructField("nanos", LongType))))))))))
    val flat = SchemaMapper.flatten(nested)
    assert(flat.columns.toSeq ==
      Seq("id", "pose_x", "pose_stamp_secs", "pose_stamp_nanos"))
    val r = flat.collect().head
    assert(r.getLong(0) == 1L && r.getDouble(1) == 2.0 &&
      r.getLong(2) == 3L && r.getLong(3) == 4L)
  }

  test("fixed and bounded ROS array types resolve like unbounded ones") {
    assert(TypeMap.resolve("float64[36]") ==           // covariance matrix
      ArrayType(DoubleType, containsNull = false))
    assert(TypeMap.resolve("string[<=10]") ==          // bounded (ROS 2)
      ArrayType(StringType, containsNull = false))
    assert(TypeMap.resolve("uint8[640]") == BinaryType) // fixed blob
    val header = StructType(Seq(StructField("seq", LongType)))
    assert(TypeMap.resolve("Header[4]", Map("Header" -> header)) ==
      ArrayType(header, containsNull = false))
  }

  test("flatten rejects mangled-name collisions instead of corrupting") {
    val nested = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      StructType(Seq(
        StructField("pose_x", DoubleType),
        StructField("pose", StructType(Seq(StructField("x", DoubleType)))))))
    val e = intercept[IllegalArgumentException](SchemaMapper.flatten(nested))
    assert(e.getMessage.contains("collision"))
  }

  test("null nested structs round-trip through flatten/unflatten as null") {
    val target = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("pose", StructType(Seq(
        StructField("x", DoubleType),
        StructField("y", DoubleType))), nullable = true)))
    val rows = java.util.Arrays.asList(
      org.apache.spark.sql.Row(1L, org.apache.spark.sql.Row(2.0, 3.0)),
      org.apache.spark.sql.Row(2L, null))
    val nested = spark.createDataFrame(rows, target)
    val back = SchemaMapper.unflatten(SchemaMapper.flatten(nested), target)
      .orderBy("id").collect()
    assert(back(0).getStruct(1).getDouble(0) == 2.0)
    assert(back(1).isNullAt(1),
      "null sub-message must stay null, not become a struct of defaults")
  }

  test("catalog chains schema versions: same / additive / incompatible") {
    val cat = new graft.model.Catalog(spark, tmpDir("cat") + "/_metadata")
    val v1 = StructType(Seq(
      StructField("x", LongType, nullable = false),
      StructField("y", DoubleType)))
    val m1 = cat.register("/r1/pose", "geometry_msgs/Pose", v1)
    assert(m1.version == 1 && m1.chain == m1.fingerprint)

    // SAME schema re-registered → idempotent, chain untouched
    val again = cat.register("/r1/pose", "geometry_msgs/Pose", v1)
    assert(again == m1 && cat.history("/r1/pose").size == 1)

    // ADDITIVE evolution (new nullable field) → version 2, chained fp
    val v2 = v1.add(StructField("z", DoubleType, nullable = true))
    val m2 = cat.register("/r1/pose", "geometry_msgs/Pose", v2)
    assert(m2.version == 2)
    assert(m2.chain == graft.model.Catalog.chainStep(m1.chain, m2.fingerprint))
    assert(cat.history("/r1/pose").map(_.version) == Seq(1, 2))
    // latest-per-topic view and readback verify the NEW schema...
    assert(cat.all().map(_.topic) == Seq("/r1/pose"))
    assert(cat.verified("/r1/pose", v2).version == 2)
    // ...while a stale reader is told WHICH historical version it holds
    val stale = intercept[IllegalArgumentException](
      cat.verified("/r1/pose", v1))
    assert(stale.getMessage.contains("HISTORICAL v1"))

    // INCOMPATIBLE changes refuse to register, naming the violation
    val dropped = StructType(v2.fields.filterNot(_.name == "y"))
    assert(intercept[IllegalStateException](
      cat.register("/r1/pose", "geometry_msgs/Pose", dropped))
      .getMessage.contains("dropped"))
    val retyped = StructType(v2.fields.map(f =>
      if (f.name == "y") f.copy(dataType = StringType) else f))
    assert(intercept[IllegalStateException](
      cat.register("/r1/pose", "geometry_msgs/Pose", retyped))
      .getMessage.contains("type changed"))
    val newNonNull = v2.add(StructField("w", LongType, nullable = false))
    assert(intercept[IllegalStateException](
      cat.register("/r1/pose", "geometry_msgs/Pose", newNonNull))
      .getMessage.contains("must be nullable"))
    // failed registrations must not have touched the chain
    assert(cat.history("/r1/pose").map(_.version) == Seq(1, 2))

    // a second topic's chain is independent and survives the other's
    // evolution (the read-then-overwrite keeps every version row)
    val mS = cat.register("/r1/sensor", "sensor_msgs/Imu", v1)
    assert(mS.version == 1 && cat.allVersions().size == 3)
  }

  test("catalog calls launch no Spark job") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("graft.test.phase")))
          .getOrElse(""))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      val cat = new graft.model.Catalog(spark, tmpDir("cat-jobs") + "/_metadata")
      val v1 = StructType(Seq(StructField("x", LongType)))
      val v2 = v1.add(StructField("y", DoubleType))
      sc.setLocalProperty("graft.test.phase", "catalog")
      cat.register("/r1/pose", "geometry_msgs/Pose", v1)
      cat.register("/r1/pose", "geometry_msgs/Pose", v2)
      cat.register("/r1/imu", "sensor_msgs/Imu", v1)
      assert(cat.lookup("/r1/pose").get.version == 2)
      assert(cat.verified("/r1/pose", v2).version == 2)
      assert(cat.history("/r1/pose").size == 2)
      // a job started after the probe: once the listener has seen it,
      // it has seen every job started before it
      sc.setLocalProperty("graft.test.phase", "sentinel")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (!seen.contains("sentinel") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(seen.contains("sentinel"), "listener never saw the sentinel job")
      assert(!seen.contains("catalog"),
        s"catalog calls launched Spark jobs: $seen")
    } finally {
      sc.setLocalProperty("graft.test.phase", null)
      sc.removeSparkListener(listener)
    }
  }

  test("catalog: a second instance on the same path sees the full chain") {
    val path = tmpDir("cat-share") + "/_metadata"
    val a = new graft.model.Catalog(spark, path)
    val v1 = StructType(Seq(StructField("x", LongType)))
    a.register("/r1/pose", "geometry_msgs/Pose", v1)
    a.register("/r1/pose", "geometry_msgs/Pose",
      v1.add(StructField("y", DoubleType)))
    a.register("/r1/imu", "sensor_msgs/Imu", v1)
    val b = new graft.model.Catalog(spark, path)
    assert(b.history("/r1/pose") == a.history("/r1/pose"))
    assert(b.history("/r1/pose").map(_.version) == Seq(1, 2))
    assert(b.allVersions().toSet == a.allVersions().toSet)
    // and a registration through b extends the chain a reads
    val m3 = b.register("/r1/pose", "geometry_msgs/Pose",
      v1.add(StructField("y", DoubleType)).add(StructField("z", DoubleType)))
    assert(a.lookup("/r1/pose") == Some(m3) && m3.version == 3)
  }

  test("catalog: concurrent registrations on one path keep every topic") {
    val path = tmpDir("cat-race") + "/_metadata"
    val v1 = StructType(Seq(StructField("x", LongType)))
    val n = 8
    // n threads, each with its own instance on the path, register
    // distinct topics released together: a read-then-replace without a
    // shared lock lets a later replace drop an earlier thread's row
    val go = new java.util.concurrent.CountDownLatch(1)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to n).map { i =>
      val cat = new graft.model.Catalog(spark, path)
      new Thread(() =>
        try { go.await(); cat.register(s"/race/t$i", "std_msgs/Int64", v1) }
        catch { case t: Throwable => failures.add(t) })
    }
    threads.foreach(_.start()); go.countDown(); threads.foreach(_.join())
    assert(failures.isEmpty, failures)
    val topics = new graft.model.Catalog(spark, path).allVersions().map(_.topic)
    assert(topics.sorted == (1 to n).map(i => s"/race/t$i").sorted)
  }

  test("catalog: a write interrupted before its rename loses nothing") {
    val dir = tmpDir("cat-crash") + "/_metadata"
    val cat = new graft.model.Catalog(spark, dir)
    val v1 = StructType(Seq(StructField("x", LongType)))
    val m1 = cat.register("/r1/pose", "geometry_msgs/Pose", v1)
    // what a writer killed mid-write leaves: a partial hidden temp file
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, ".catalog.json.crashed.tmp"),
      "[{\"topic\":\"/r1/po".getBytes("UTF-8"))
    assert(cat.allVersions() == Seq(m1))
    val m2 = cat.register("/r1/imu", "sensor_msgs/Imu", v1)
    assert(cat.allVersions().toSet == Set(m1, m2))
  }

  test("catalog: a legacy parquet catalog fails loudly, never reads empty") {
    val path = tmpDir("cat-legacy") + "/_metadata"
    Seq(graft.model.TopicMeta("/r1/pose", "r1_pose", "geometry_msgs/Pose",
        "fp", "x BIGINT", 1, "fp")).toDS()
      .repartition(1).write.parquet(path)
    val cat = new graft.model.Catalog(spark, path)
    val v1 = StructType(Seq(StructField("x", LongType)))
    for (call <- Seq[() => Any](
        () => cat.allVersions(), () => cat.lookup("/r1/pose"),
        () => cat.register("/r1/imu", "sensor_msgs/Imu", v1))) {
      val e = intercept[IllegalStateException](call())
      assert(e.getMessage.contains("legacy parquet"), e.getMessage)
    }
    // the failed register left the legacy table as it was
    assert(spark.read.parquet(path).count() == 1)
  }

  test("catalog: a null document or a row with a null field fails " +
       "loudly, never reads empty") {
    val path = tmpDir("cat-null") + "/_metadata"
    val cat = new graft.model.Catalog(spark, path)
    val v1 = StructType(Seq(StructField("x", LongType)))
    cat.register("/a", "std_msgs/Int64", v1)
    val b = cat.register("/b", "std_msgs/Int64", v1)
    val doc = java.nio.file.Paths.get(path, "catalog.json")
    def put(text: String) =
      java.nio.file.Files.write(doc, text.getBytes("UTF-8"))
    def text() = new String(java.nio.file.Files.readAllBytes(doc), "UTF-8")
    put("null")
    for (call <- Seq[() => Any](
        () => cat.allVersions(), () => cat.lookup("/a"),
        () => cat.register("/c", "std_msgs/Int64", v1))) {
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage.contains("catalog.json"), e.getMessage)
    }
    // the failed register did not replace the document with one topic
    assert(text() == "null")
    put(s"""[{"topic":null,"table":"b","msgType":"${b.msgType}",""" +
      s""""fingerprint":"${b.fingerprint}","schemaDdl":"${b.schemaDdl}",""" +
      s""""version":1,"chain":"${b.chain}"}]""")
    val e = intercept[IllegalArgumentException](cat.allVersions())
    assert(e.getMessage.contains("topic"), e.getMessage)
  }

  // ---- TxTable: the minimal ACID commit-log layer (r6 task 4) ----

  test("txlog: append/overwrite commits are atomic and versioned") {
    val t = graft.model.TxTable(spark, tmpDir("tx-basic"))
    assert(t.currentVersion() == 0)
    t.append(Seq((1L, "a"), (2L, "b")).toDF("k", "s"))
    t.append(Seq((3L, "c")).toDF("k", "s"))
    assert(t.versions() == Seq(1L, 2L))
    assert(t.read().count() == 3)
    t.overwrite(Seq((9L, "z")).toDF("k", "s"))
    assert(t.read().collect().map(_.getLong(0)).toSeq == Seq(9L))
    // schema gate: appends must evolve additively
    assert(intercept[IllegalStateException](
      t.append(Seq(1L).toDF("k")))
      .getMessage.contains("dropped"))
  }

  test("txlog: time travel — every historical snapshot stays readable") {
    val t = graft.model.TxTable(spark, tmpDir("tx-tt"))
    t.append(Seq((1L, 10L)).toDF("k", "v"))   // v1
    t.append(Seq((2L, 20L)).toDF("k", "v"))   // v2
    t.overwrite(Seq((3L, 30L)).toDF("k", "v")) // v3
    assert(t.readAt(1).collect().map(_.getLong(0)).toSeq == Seq(1L))
    assert(t.readAt(2).collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L))
    assert(t.readAt(3).collect().map(_.getLong(0)).toSeq == Seq(3L))
  }

  test("txlog: concurrent appends serialize; conflicting rewrites abort") {
    val dir = tmpDir("tx-race")
    val t = graft.model.TxTable(spark, dir)
    t.append(Seq((0L, 0L)).toDF("k", "v"))
    // two writers race 8 appends each through the SAME version space:
    // the no-overwrite link publish forces losers to rebase, so all 16
    // commits land, serialized, none lost
    val writers = (1 to 2).map { w =>
      new Thread(() => {
        val mine = graft.model.TxTable(spark, dir)
        for (i <- 1 to 8)
          mine.append(Seq((w * 100L + i, i.toLong)).toDF("k", "v"))
      })
    }
    writers.foreach(_.start()); writers.foreach(_.join())
    assert(t.currentVersion() == 17, s"lost commits: ${t.versions()}")
    assert(t.read().count() == 17)
    // overwrite prepared against a now-stale snapshot must conflict,
    // not silently clobber the append that landed meanwhile
    val staleBase = t.currentVersion()
    t.append(Seq((999L, 9L)).toDF("k", "v"))
    intercept[graft.model.TxConflictException] {
      t.overwrite(Seq((1000L, 1L)).toDF("k", "v"), base = staleBase)
    }
    // the conflicting overwrite left no trace; the append survived
    assert(t.read().filter($"k" === 999L).count() == 1)
    assert(t.read().filter($"k" === 1000L).count() == 0)
  }

  test("txlog: reader pinned before compaction is isolated from it") {
    val t = graft.model.TxTable(spark, tmpDir("tx-compact"))
    for (i <- 1 to 4) t.append(Seq((i.toLong, i.toLong)).toDF("k", "v"))
    val preV = t.currentVersion()
    val pinned = t.readAt(preV) // resolves the file list NOW
    val preFiles = t.filesAt(preV).size
    val postV = t.compact(smallBytes = 64L * 1024 * 1024)
    assert(postV == preV + 1)
    assert(t.filesAt(postV).size < preFiles,
      s"compaction should shrink the live file set")
    // the pinned reader still sees exactly its snapshot — the old
    // files are unlisted by the compact commit, never deleted
    assert(pinned.collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L, 3L, 4L))
    assert(t.read().collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L, 3L, 4L))
    // a compaction prepared before a concurrent commit must abort —
    // its removes-list may no longer describe the live file set
    t.append(Seq((9L, 9L)).toDF("k", "v"))
    t.append(Seq((10L, 10L)).toDF("k", "v"))
    val staleBase = t.currentVersion() // ≥2 small live files here
    t.append(Seq((11L, 11L)).toDF("k", "v")) // head moves past it
    intercept[graft.model.TxConflictException] {
      t.compact(64L * 1024 * 1024, base = staleBase)
    }
  }

  test("txlog: an additive append records the evolved schema") {
    val t = graft.model.TxTable(spark, tmpDir("tx-evolve"))
    t.append(Seq((1L, 10L)).toDF("k", "v"))                 // v1
    t.append(Seq((2L, 20L, "two")).toDF("k", "v", "note"))  // v2: + note
    assert(t.schemaDdlAt(1) == "k BIGINT NOT NULL,v BIGINT NOT NULL")
    assert(t.schemaDdlAt(2) ==
      "k BIGINT NOT NULL,v BIGINT NOT NULL,note STRING")
    val rows = t.read().orderBy("k").collect()
      .map(r => (r.getLong(0), r.getLong(1), Option(r.getString(2))))
    assert(rows.toSeq == Seq((1L, 10L, None), (2L, 20L, Some("two"))))
    assert(t.readAt(1).columns.toSeq == Seq("k", "v"))
    // a plain append of the evolved schema records nothing new
    t.append(Seq((3L, 30L, "three")).toDF("k", "v", "note"))  // v3
    assert(t.schemaDdlAt(3) == t.schemaDdlAt(2))
    assert(graft.model.TxLog.readManifest(t.dir, 3L).schemaDdl.isEmpty)
    // write-audit-publish records the evolution too: a new column in
    // `next`'s order after the head's, a relaxed nullability in place
    val relaxed = spark.createDataFrame(
      java.util.Arrays.asList(org.apache.spark.sql.Row(4L, null, "four", 0.5)),
      StructType(Seq(StructField("k", LongType, nullable = false),
        StructField("v", LongType), StructField("note", StringType),
        StructField("w", DoubleType))))
    assert(t.writeAuditPublish(relaxed.select("w", "k", "v", "note"))(
      _ => None) == Right(4L))
    assert(t.schemaDdlAt(4) ==
      "k BIGINT NOT NULL,v BIGINT,note STRING,w DOUBLE")
    assert(t.read().filter($"k" === 4L).collect().head.isNullAt(1))
    assert(t.read().count() == 4)
  }

  test("txlog: racing additive appends — the loser is gated against " +
       "the head it would land on") {
    val dir = tmpDir("tx-evolve-race")
    graft.model.TxTable(spark, dir).append(Seq((0L, 0L)).toDF("k", "v"))
    val go = new java.util.concurrent.CountDownLatch(1)
    val results = Seq("a", "b").map { c =>
      val df = Seq((1L, 1L, c)).toDF("k", "v", c)
      scala.concurrent.Future {
        go.await()
        scala.util.Try(graft.model.TxTable(spark, dir).append(df))
      }(scala.concurrent.ExecutionContext.global)
    }
    go.countDown()
    val done = results.map(f => scala.concurrent.Await.result(f,
      scala.concurrent.duration.Duration(120, "s")))
    // whichever landed first, the other drops its column: refused
    assert(done.count(_.isSuccess) == 1, done.toString)
    val lost = done.collectFirst { case scala.util.Failure(e) => e }.get
    assert(lost.getMessage.contains("dropped"), lost.getMessage)
    val t = graft.model.TxTable(spark, dir)
    assert(t.currentVersion() == 2L)
    val winner = t.read().columns.last
    assert(Set("a", "b").contains(winner) && t.read().count() == 2)
  }

  // ---- r8: manifest checkpointing + vacuum that actually deletes ----

  test("txlog: checkpointed reads touch <= interval+1 log files at v>=25") {
    val t = graft.model.TxTable(spark, tmpDir("tx-ckpt"))
    for (i <- 1 to 25) t.append(Seq((i.toLong, i.toLong)).toDF("k", "v"))
    // checkpoints landed every 10th commit
    assert(graft.model.TxLog.latestCheckpointAt(t.dir, 25)
      .exists(_.version == 20L))
    // resolution correctness: the checkpointed fold equals the data
    assert(t.read().count() == 25)
    assert(t.readAt(13).count() == 13) // tail-fold from the v10 ckpt
    // and the PROVEN read bound: resolving v25 reads the v20
    // checkpoint + manifests 21..25 — never the whole chain
    graft.model.TxLog.logReads.set(0)
    t.filesAt(25)
    val reads = graft.model.TxLog.logReads.get()
    assert(reads <= graft.model.TxTable.CheckpointInterval + 1,
      s"v25 resolution read $reads log files — the O(commits) fold " +
      s"is back")
    // schema resolution rides the same bound
    graft.model.TxLog.logReads.set(0)
    t.schemaDdlAt(25)
    assert(graft.model.TxLog.logReads.get() <=
      graft.model.TxTable.CheckpointInterval + 1)
  }

  test("txlog: vacuum deletes past the horizon; pinned-inside resolves, " +
       "pinned-beyond fails loudly") {
    val t = graft.model.TxTable(spark, tmpDir("tx-vac"))
    // v1..v6: overwrites strand a file generation each — real
    // time-travel debt on disk
    for (i <- 1 to 6)
      t.overwrite(Seq((i.toLong, i.toLong)).toDF("k", "v"))
    // plus an audit-failed WAP staging: unreferenced debris
    val wap = t.writeAuditPublish(Seq((99L, 99L)).toDF("k", "v"))(
      _ => Some("audit says no"))
    assert(wap.isLeft && t.unreferencedFiles().nonEmpty)
    val before = t.unlistedFiles().size
    assert(before > 0, "overwrites should strand old generations")
    // grace 0: this test WANTS the fresh audit-failed debris reclaimed
    // deterministically (the grace-window behavior has its own test)
    val (horizon, deleted) = t.vacuum(retainVersions = 3, stagedGraceMs = 0L)
    assert(horizon == 4L && deleted > 0)
    // retained versions: fully readable, correct content
    assert(t.readAt(4).collect().map(_.getLong(0)).toSeq == Seq(4L))
    assert(t.readAt(6).collect().map(_.getLong(0)).toSeq == Seq(6L))
    // beyond the horizon: loud, immediate, structured failure — not a
    // missing-file crash mid-scan
    val ex = intercept[IllegalStateException](t.readAt(2))
    assert(ex.getMessage.contains("vacuumed away") &&
           ex.getMessage.contains("v4"))
    // the unreferenced WAP debris is gone; no file of any retained
    // snapshot was touched
    assert(t.unreferencedFiles().isEmpty)
    assert(t.filesAt(6).forall(f =>
      java.nio.file.Files.exists(java.nio.file.Paths.get(f))))
    // vacuum is idempotent and monotone
    val (h2, d2) = t.vacuum(retainVersions = 3, stagedGraceMs = 0L)
    assert(h2 == 4L && d2 == 0)
  }

  // ---- r9: vacuum-vs-writer safety (advisory: deleting fresh staged
  // files can race an imminent publish → readable version with
  // missing files) ----

  test("txlog: vacuum on an empty table is a no-op, not an error") {
    val t = graft.model.TxTable(spark, tmpDir("tx-vac-empty"))
    assert(t.vacuum(retainVersions = 3) == (0L, 0))
    assert(t.vacuumHorizon() == 0L)
  }

  test("txlog: vacuum spares fresh staged files (grace window) — an " +
       "in-flight writer's publish lands intact") {
    val t = graft.model.TxTable(spark, tmpDir("tx-vac-grace"))
    t.append(Seq((1L, 1L)).toDF("k", "v"))
    t.overwrite(Seq((2L, 2L)).toDF("k", "v")) // strands v1's generation
    // the deterministic interleaving that used to corrupt: the audit
    // callback runs EXACTLY between staging and publish — a vacuum
    // fired there sees the staged files as unreferenced
    val res = t.writeAuditPublish(Seq((3L, 3L)).toDF("k", "v")) { _ =>
      val (_, deletedWhileStaged) = t.vacuum(retainVersions = 1)
      // time-travel debt (v1's files) IS reclaimed; the freshly staged
      // parquet survives the default grace
      assert(deletedWhileStaged > 0)
      None // audit passes → publish proceeds against intact files
    }
    assert(res.isRight, s"publish failed: $res")
    // the published version reads back complete — no missing files
    assert(t.read().collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(2L, 3L))
    assert(t.filesAt(t.currentVersion()).forall(f =>
      java.nio.file.Files.exists(java.nio.file.Paths.get(f))))
    // and an ABANDONED staging (audit fail) is reclaimed once stale:
    // grace 0 models "older than the window"
    val wap = t.writeAuditPublish(Seq((9L, 9L)).toDF("k", "v"))(
      _ => Some("no"))
    assert(wap.isLeft && t.unreferencedFiles().nonEmpty)
    t.vacuum(retainVersions = 1, stagedGraceMs = 0L)
    assert(t.unreferencedFiles().isEmpty)
  }

  test("txlog: vacuum reclaims a staged file once its mtime AGES past " +
       "the grace window — the cutoff arithmetic itself") {
    // the grace tests above exercise grace=default (spared) and
    // grace=0 (reclaimed); this one pins the boundary: same default
    // window, but the file's mtime is pushed BEYOND it, so
    // `mtime < now - grace` must flip from false to true (r9 verdict
    // task: the aging case was untested — a sign error in the cutoff
    // subtraction would pass both existing tests)
    val t = graft.model.TxTable(spark, tmpDir("tx-vac-aging"))
    t.append(Seq((1L, 1L)).toDF("k", "v"))
    val wap = t.writeAuditPublish(Seq((2L, 2L)).toDF("k", "v"))(
      _ => Some("audit says no")) // abandon → files stay staged
    assert(wap.isLeft)
    val staged = t.unreferencedFiles()
    assert(staged.nonEmpty)
    val grace = graft.model.TxTable.VacuumStagedGraceMs
    // 1) just INSIDE the window (half the grace ago): spared
    staged.foreach { rel =>
      java.nio.file.Files.setLastModifiedTime(
        java.nio.file.Paths.get(t.dir, rel),
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - grace / 2))
    }
    t.vacuum(retainVersions = 1)
    assert(t.unreferencedFiles().toSet == staged.toSet,
      "a staged file inside the grace window was reclaimed")
    // 2) just PAST the window (grace + 1 min ago): reclaimed, with the
    // grace parameter left at its default — only the mtime moved
    staged.foreach { rel =>
      java.nio.file.Files.setLastModifiedTime(
        java.nio.file.Paths.get(t.dir, rel),
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - grace - 60000L))
    }
    t.vacuum(retainVersions = 1)
    assert(t.unreferencedFiles().isEmpty,
      "a staged file aged past the grace window survived the vacuum")
  }

  test("txlog: committers racing repeated vacuums never lose a file " +
       "of any readable retained version") {
    val dir = tmpDir("tx-vac-race")
    val t = graft.model.TxTable(spark, dir)
    t.append(Seq((0L, 0L)).toDF("k", "v"))
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val writer = new Thread(() => {
      try {
        val mine = graft.model.TxTable(spark, dir)
        for (i <- 1 to 12)
          mine.append(Seq((i.toLong, i.toLong)).toDF("k", "v"))
      } catch { case e: Throwable => failures.add(s"writer: $e"): Unit }
    })
    val sweeper = new Thread(() => {
      try {
        val mine = graft.model.TxTable(spark, dir)
        for (_ <- 1 to 8) { mine.vacuum(retainVersions = 2): Unit }
      } catch { case e: Throwable => failures.add(s"vacuum: $e"): Unit }
    })
    writer.start(); sweeper.start()
    writer.join(); sweeper.join()
    assert(failures.isEmpty, failures.toString)
    // every commit landed and the head snapshot is fully on disk
    assert(t.currentVersion() == 13L)
    assert(t.read().count() == 13)
    assert(t.filesAt(13).forall(f =>
      java.nio.file.Files.exists(java.nio.file.Paths.get(f))))
    // horizon is within bounds and respected
    assert(t.vacuumHorizon() <= 13L)
  }

  test("txlog: crash between horizon write and deletion is conservative " +
       "— re-vacuum converges, reads fail loudly only below horizon") {
    val t = graft.model.TxTable(spark, tmpDir("tx-vac-crash"))
    for (i <- 1 to 5)
      t.overwrite(Seq((i.toLong, i.toLong)).toDF("k", "v"))
    // simulate the crash: the horizon marker lands, the deletes don't
    graft.model.TxLog.writeHorizon(t.dir, 4L)
    // nothing was deleted, but pre-horizon reads already fail loudly
    // (conservative: no reader can observe missing files later)
    val ex = intercept[IllegalStateException](t.readAt(2))
    assert(ex.getMessage.contains("vacuumed away"))
    // retained versions read fine off the intact files
    assert(t.readAt(5).collect().map(_.getLong(0)).toSeq == Seq(5L))
    // replaying the vacuum converges: debt reclaimed, horizon monotone
    val (h, d) = t.vacuum(retainVersions = 2, stagedGraceMs = 0L)
    assert(h == 4L && d > 0)
    assert(t.readAt(4).collect().map(_.getLong(0)).toSeq == Seq(4L))
    val (h2, d2) = t.vacuum(retainVersions = 2, stagedGraceMs = 0L)
    assert(h2 == 4L && d2 == 0)
  }

  // ---- r9: escape-aware log parsing (advisory: comma-split arrays
  // and the naive closing-quote scan disagreed with esc() on paths
  // containing ',' and strings ending in '\') ----

  test("txlog: manifest round-trips paths with commas and a DDL ending " +
       "in a backslash") {
    val dir = tmpDir("tx-parse-m")
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(dir, "_txlog"))
    val m = graft.model.TxLog.Manifest(
      1L, "append",
      adds = Seq("data/c1-x/part-a,b.parquet", "data/c1-x/q\"r.parquet"),
      removes = Seq.empty,
      schemaDdl = "k BIGINT, s STRING \\")
    assert(graft.model.TxLog.tryPublish(dir, m))
    val back = graft.model.TxLog.readManifest(dir, 1L)
    assert(back == m, s"round-trip mismatch: $back")
  }

  test("txlog: checkpoint round-trips commas, quotes and trailing " +
       "backslashes in files and DDL") {
    val dir = tmpDir("tx-parse-c")
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(dir, "_txlog"))
    val c = graft.model.TxLog.Checkpoint(
      10L,
      files = Seq("data/c1-y/p,0.parquet", "data/c2-y/p\\1.parquet",
                   "data/c3-y/p\"2.parquet"),
      schemaDdl = "k BIGINT, note STRING \\")
    assert(graft.model.TxLog.tryWriteCheckpoint(dir, c))
    val back = graft.model.TxLog.latestCheckpointAt(dir, 10L)
    assert(back.contains(c), s"round-trip mismatch: $back")
    // and the empty-array / empty-string edges still parse
    val c0 = graft.model.TxLog.Checkpoint(20L, Seq.empty, "")
    assert(graft.model.TxLog.tryWriteCheckpoint(dir, c0))
    assert(graft.model.TxLog.latestCheckpointAt(dir, 20L).contains(c0))
  }

  /** A fresh table dir whose `_txlog` holds `name` with `body`. */
  private def txlogWith(tag: String, name: String, body: String): String = {
    val dir = tmpDir(tag)
    val log = java.nio.file.Paths.get(dir, "_txlog")
    java.nio.file.Files.createDirectories(log)
    java.nio.file.Files.write(log.resolve(name), body.getBytes("UTF-8"))
    dir
  }

  test("txlog: a malformed manifest or checkpoint fails loudly, " +
       "never reads as a default") {
    val m1 = "00000000000000000001.json"
    val manifests = Seq(
      "truncated" ->
        """{"version":1,"action":"append","adds":["data/c1-x/p.parq""",
      "missing removes" ->
        """{"version":1,"action":"append","adds":[],"schemaDdl":""}""",
      "null removes" ->
        ("""{"version":1,"action":"append","adds":[],"removes":null,""" +
        """"schemaDdl":""}"""),
      "null action" ->
        ("""{"version":1,"action":null,"adds":[],"removes":[],""" +
        """"schemaDdl":""}"""),
      "number in adds" ->
        ("""{"version":1,"action":"append","adds":[1],"removes":[],""" +
        """"schemaDdl":""}"""),
      "empty file" -> "")
    for ((what, body) <- manifests) {
      val dir = txlogWith("tx-bad-m", m1, body)
      val e = intercept[IllegalArgumentException](
        graft.model.TxLog.readManifest(dir, 1L))
      info(s"$what: ${e.getMessage}")
    }
    val dir = txlogWith("tx-bad-c", "00000000000000000010.ckpt",
      """{"version":10,"schemaDdl":"k BIGINT"}""")
    val e = intercept[IllegalArgumentException](
      graft.model.TxLog.latestCheckpointAt(dir, 10L))
    info(s"checkpoint without files: ${e.getMessage}")
  }

  test("txlog: content after the document, or a version other than the " +
       "file name's, fails loudly") {
    val ok = """{"version":1,"action":"append","adds":[],"removes":[],""" +
      """"schemaDdl":""}"""
    val m1 = "00000000000000000001.json"
    for (body <- Seq(ok + "garbage", ok + "{}",
                     ok.replace("\"version\":1", "\"version\":7"))) {
      val dir = txlogWith("tx-bad-tail", m1, body)
      val e = intercept[IllegalArgumentException](
        graft.model.TxLog.readManifest(dir, 1L))
      assert(e.getMessage.contains("manifest v1"), e.getMessage)
    }
    // a checkpoint is where the fold resumes: one holding another
    // version would resolve the wrong snapshot
    val dir = txlogWith("tx-bad-ckv", "00000000000000000010.ckpt",
      """{"version":20,"files":[],"schemaDdl":"k BIGINT"}""")
    val e = intercept[IllegalArgumentException](
      graft.model.TxLog.latestCheckpointAt(dir, 15L))
    assert(e.getMessage.contains("holds version 20"), e.getMessage)
  }

  test("txlog: logs in the existing byte format decode, and the writer " +
       "emits those bytes") {
    import graft.model.TxLog.{Checkpoint, Manifest}
    val mBytes =
      """{"version":3,"action":"compact",""" +
      """"adds":["data/c3-x/part-a,b.parquet","data/c3-x/q\"r.parquet"],""" +
      """"removes":["data/c1-x/p\\0.parquet"],""" +
      """"schemaDdl":"k BIGINT, s STRING \\"}"""
    val m = Manifest(3L, "compact",
      adds = Seq("data/c3-x/part-a,b.parquet", "data/c3-x/q\"r.parquet"),
      removes = Seq("data/c1-x/p\\0.parquet"),
      schemaDdl = "k BIGINT, s STRING \\")
    val cBytes =
      """{"version":10,"files":["data/c1-y/p,0.parquet",""" +
      """"data/c2-y/p\\1.parquet","data/c3-y/p\"2.parquet"],""" +
      """"schemaDdl":"k BIGINT, note STRING \\"}"""
    val c = Checkpoint(10L,
      files = Seq("data/c1-y/p,0.parquet", "data/c2-y/p\\1.parquet",
                  "data/c3-y/p\"2.parquet"),
      schemaDdl = "k BIGINT, note STRING \\")
    val mName = "00000000000000000003.json"
    val cName = "00000000000000000010.ckpt"
    // decode: bytes an existing table holds
    assert(graft.model.TxLog.readManifest(
      txlogWith("tx-fmt-m", mName, mBytes), 3L) == m)
    assert(graft.model.TxLog.latestCheckpointAt(
      txlogWith("tx-fmt-c", cName, cBytes), 10L).contains(c))
    // encode: the writer emits exactly those bytes
    val out = tmpDir("tx-fmt-w")
    val log = java.nio.file.Paths.get(out, "_txlog")
    java.nio.file.Files.createDirectories(log)
    def bytesOf(name: String) =
      new String(java.nio.file.Files.readAllBytes(log.resolve(name)), "UTF-8")
    assert(graft.model.TxLog.tryPublish(out, m))
    assert(bytesOf(mName) == mBytes)
    assert(graft.model.TxLog.tryWriteCheckpoint(out, c))
    assert(bytesOf(cName) == cBytes)
    // control characters: either case of a \\u escape reads back, and
    // whatever escape the writer picks round-trips
    val u = "\\u001"
    val ctl = s"""{"version":1,"action":"append",""" +
      s""""adds":["p${u}f.parquet","p${u}F.parquet"],"removes":[],""" +
      s""""schemaDdl":"a\\tb"}"""
    assert(graft.model.TxLog.readManifest(
      txlogWith("tx-fmt-u", "00000000000000000001.json", ctl), 1L) ==
      Manifest(1L, "append", Seq("p\u001f.parquet", "p\u001f.parquet"),
        Seq.empty, "a\tb"))
    val odd = Manifest(2L, "append",
      Seq("p\u0008.parquet", "p\u001f.parquet", "p\n\r\t.parquet"),
      Seq("p\u0000.parquet"), "k BIGINT COMMENT 'a\u000cb'")
    assert(graft.model.TxLog.tryPublish(out, odd))
    assert(graft.model.TxLog.readManifest(out, 2L) == odd)
  }
}
