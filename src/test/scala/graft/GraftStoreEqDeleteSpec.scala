package graft

import java.io.File

import graft.sources.GraftStore

/** Equality deletes (round 12): the Iceberg-v2 equality-delete design —
  * `deleteByKey` commits a key-set sidecar that hides every matching row
  * in every file born before it, WITHOUT reading any data file, and
  * `upsertByKey` is the pure-append CDC apply (one commit: eq-delete the
  * batch's keys + append its rows, the appends exempt from their own
  * delete by the strict `addedv < seq` rule).
  *
  * The core economics claim — write cost ∝ batch, zero data-file I/O —
  * is pinned physically (mtime + length proof on every data file), and
  * every read-side consumer's contract under live deletes is pinned:
  * scan probe, time travel, metadata-agg decline + post-purge recovery,
  * incremental/CDF refusal, compaction exclusion, clone carry.
  */
class GraftStoreEqDeleteSpec extends SparkSuite {

  private def fresh(tag: String, rows: Long = 300, slices: Int = 3): String = {
    val root = graft.ops.Util.managedTempDir(s"graft_eqd_${tag}_")
    val t = s"$root/t"
    spark.range(0, rows, 1, slices).selectExpr("id AS k", "id * 10 AS v")
      .write.format("graft.sources.GraftStore").option("path", t)
      .mode("overwrite").save()
    t
  }

  private def dataFiles(path: String): Map[String, (Long, Long)] =
    Option(new File(path, "data").listFiles()).getOrElse(Array.empty)
      .filterNot(f => f.getName.contains(".dv.") || f.getName.startsWith("eqdel-"))
      .map(f => f.getName -> (f.lastModified(), f.length())).toMap

  private def readT(path: String, versionAsOf: Long = -1L) = {
    val r = spark.read.format("graft.sources.GraftStore").option("path", path)
    if (versionAsOf >= 0) r.option("versionAsOf", versionAsOf.toString)
    r.load()
  }

  private def keysDf(ks: Long*) = {
    import spark.implicits._
    ks.toDF("k")
  }

  test("deleteByKey: zero data-file I/O (bytes untouched, no DV), rows hidden exactly") {
    val t = fresh("del")
    val before = dataFiles(t)
    assert(before.size == 3)
    val dead = Seq(3L, 77L, 150L, 299L)
    val v = GraftStore.deleteByKey(spark, t, keysDf(dead: _*))
    assert(dataFiles(t) == before,
      "equality delete must not touch, rewrite or add data files")
    val entries = GraftStore.readManifest(t).get._2
    assert(entries.forall(_.dv.isEmpty), "no position vectors involved")
    // sidecar committed under data/, manifest carries the header
    val eqs = GraftStore.readEqDeletesOf(new File(t, s"_manifest.v$v"))
    assert(eqs.nonEmpty && eqs.forall(d =>
      d.seq == v && d.cols == Seq("k") && new File(t, d.file).isFile))
    val got = readT(t).selectExpr("k", "v").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = (0L until 300L).filterNot(dead.contains).map(k => (k, k * 10)).toSet
    assert(got == want)
    // deleting already-deleted / absent keys is a harmless no-op commit
    GraftStore.deleteByKey(spark, t, keysDf(3L, 1000000L))
    assert(readT(t).count() == want.size)
  }

  test("upsertByKey: ONE commit, old files untouched, revival via addedv exemption, last-writer-wins") {
    import spark.implicits._
    val t = fresh("up")
    val before = dataFiles(t)
    GraftStore.deleteByKey(spark, t, keysDf(10L, 20L))
    val vBase = GraftStore.readVersion(t)
    // one upsert: replaces k=20 (revives the just-deleted key), replaces
    // k=30 (live), inserts k=1000 (new)
    val v = GraftStore.upsertByKey(spark, t, Seq("k"),
      Seq((20L, -1L), (30L, -2L), (1000L, -3L)).toDF("k", "v"))
    assert(v == vBase + 1, "upsert is ONE atomic commit")
    assert(dataFiles(t).view.filterKeys(before.contains).toMap == before,
      "pre-existing data files must be byte-identical after upsert")
    val got = readT(t).collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(!got.contains(10L), "k=10 stays deleted")
    assert(got(20L) == -1L, "upsert revives a previously eq-deleted key")
    assert(got(30L) == -2L, "upsert replaces a live key (old version hidden)")
    assert(got(1000L) == -3L, "unmatched key inserts")
    assert(got(40L) == 400L, "untouched keys keep their rows")
    assert(got.size == 300 - 2 + 2, "300 base - {10,20} deleted + {20 revived, 1000 new}")
    // SECOND upsert of the same key wins (appends from commit N are
    // subject to deletes from commit N+1: strict addedv < seq)
    GraftStore.upsertByKey(spark, t, Seq("k"), Seq((20L, -9L)).toDF("k", "v"))
    assert(readT(t).filter($"k" === 20L).collect().map(_.getLong(1)).toSeq == Seq(-9L))
  }

  test("multi-column string+long keys: tuple encoding, no cross-type or cross-column aliasing") {
    import spark.implicits._
    val root = graft.ops.Util.managedTempDir("graft_eqd_tuple_")
    val t = s"$root/t"
    Seq(("a b", 1L, 1L), ("a", 1L, 2L), ("12", 12L, 3L), ("5:12", 12L, 4L),
      (null.asInstanceOf[String], 1L, 5L))
      .toDF("name", "n", "v")
      .write.format("graft.sources.GraftStore").option("path", t)
      .mode("overwrite").save()
    // delete exactly ("a b", 1): the ("a", 1) row, the numeric-string
    // rows and the null-key row must all survive
    GraftStore.deleteByKey(spark, t,
      Seq(("a b", 1L)).toDF("name", "n"))
    assert(readT(t).select("v").collect().map(_.getLong(0)).toSet ==
      Set(2L, 3L, 4L, 5L))
    // null KEYS in the delete set match nothing (SQL semantics): the
    // null-name row survives a (null, 1) "delete"
    GraftStore.deleteByKey(spark, t,
      Seq((null.asInstanceOf[String], 1L)).toDF("name", "n"))
    assert(readT(t).select("v").collect().map(_.getLong(0)).toSet ==
      Set(2L, 3L, 4L, 5L))
  }

  test("key validation: unknown column and unsupported type are refused loudly") {
    import spark.implicits._
    val t = fresh("valid")
    val e1 = intercept[IllegalArgumentException] {
      GraftStore.deleteByKey(spark, t, Seq(1L).toDF("nope"))
    }
    assert(e1.getMessage.contains("not a column"))
    // key frame typed differently from the table column: refused (a
    // getLong over a double column would encode garbage tuples)
    val e2 = intercept[IllegalArgumentException] {
      GraftStore.deleteByKey(spark, t, Seq(1.5).toDF("k"))
    }
    assert(e2.getMessage.contains("cast the key set"))
    // unsupported table column type: refused
    val root = graft.ops.Util.managedTempDir("graft_eqd_badtype_")
    Seq((1.5, 1L)).toDF("d", "k")
      .write.format("graft.sources.GraftStore").option("path", s"$root/t")
      .mode("overwrite").save()
    val e3 = intercept[IllegalArgumentException] {
      GraftStore.deleteByKey(spark, s"$root/t", Seq(1.5).toDF("d"))
    }
    assert(e3.getMessage.contains("int/long/string"))
  }

  test("time travel: pre-delete snapshot sees all rows; restore revives; clone carries deletes") {
    val t = fresh("tt")
    val v0 = GraftStore.readVersion(t)
    GraftStore.deleteByKey(spark, t, keysDf(0L, 1L, 2L))
    assert(readT(t, versionAsOf = v0).count() == 300)
    assert(readT(t).count() == 297)
    // clone carries headers + sidecars: the clone reads filtered
    val dst = graft.ops.Util.managedTempDir("graft_eqd_clone_") + "/c"
    GraftStore.cloneTable(t, dst)
    assert(readT(dst).count() == 297)
    // restore to the pre-delete snapshot revives the rows
    GraftStore.restore(t, v0)
    assert(readT(t).count() == 300)
  }

  test("purgeDeletes folds key sets into clean files; metadata-only aggregates decline while live, answer after") {
    import org.apache.spark.sql.functions._
    val t = fresh("purge")
    GraftStore.deleteByKey(spark, t, keysDf(5L, 6L, 7L))
    // while a delete is live the manifest's `rows` still count hidden
    // rows — a metadata-only COUNT would be wrong, so it must decline
    // and the scan answer must be the LIVE count
    val live = readT(t).agg(count(lit(1)).as("n"), min("k").as("mn")).collect()(0)
    assert(live.getLong(0) == 297 && live.getLong(1) == 0L)
    val v = GraftStore.purgeDeletes(spark, t)
    assert(GraftStore.readEqDeletesOf(new File(t, s"_manifest.v$v")).isEmpty,
      "purge drops the eq-delete headers")
    assert(readT(t).count() == 297)
    // post-purge entries carry exact rows again (metadata answers safe)
    assert(GraftStore.readManifest(t).get._2.map(_.rows).sum == 297)
    // purge with nothing to fold is a version no-op
    assert(GraftStore.purgeDeletes(spark, t) == v)
  }

  test("incremental read refuses ranges crossing an eq-delete commit; compaction excludes affected files") {
    import spark.implicits._
    val t = fresh("incr")
    val v0 = GraftStore.readVersion(t)
    GraftStore.deleteByKey(spark, t, keysDf(9L))
    val e = intercept[Exception] {
      spark.read.format("graft.sources.GraftStore").option("path", t)
        .option("fromVersion", v0.toString).load().count()
    }
    assert(e.getMessage.contains("equality deletes"))
    // compaction must NOT pack a file with an applicable delete (the
    // packed entry would be stamped exempt and revive the row): rows
    // stay correct and k=9 stays dead through a compact
    GraftStore.compact(spark, t, targetBytes = Long.MaxValue)
    assert(readT(t).filter($"k" === 9L).count() == 0)
    assert(readT(t).count() == 299)
  }

  test("schema evolution interplay: pre-ADD-COLUMN files never match a delete keyed on the new column") {
    import spark.implicits._
    val root = graft.ops.Util.managedTempDir("graft_eqd_evo_")
    val t = s"$root/t"
    val sx = spark.newSession()
    sx.conf.set("spark.sql.catalog.gevo", "graft.sources.GraftCatalog")
    sx.conf.set("spark.sql.catalog.gevo.root", root)
    sx.range(0, 10, 1, 1).selectExpr("id AS k")
      .write.format("graft.sources.GraftStore").option("path", t)
      .mode("overwrite").save()
    sx.sql("ALTER TABLE gevo.t ADD COLUMN tag STRING")
    Seq((100L, "x"), (101L, "y")).toDF("k", "tag")
      .write.format("graft.sources.GraftStore").option("path", t)
      .mode("append").save()
    // delete keyed on the NEW column: only post-evolution rows can
    // match (old frames lack the ordinal — SQL null-key semantics)
    GraftStore.deleteByKey(sx, t, Seq("x").toDF("tag"))
    val got = sx.read.format("graft.sources.GraftStore").option("path", t)
      .load().select("k").collect().map(_.getLong(0)).toSet
    assert(got == ((0L until 10L).toSet + 101L))
  }

  private def changes(t: String, from: Long, to: Long) =
    spark.read.format("graft.sources.GraftStore").option("path", t)
      .option("changesFrom", from.toString)
      .option("changesTo", to.toString).load()
      .collect()
      .map(r => (r.getString(2), r.getLong(3), r.getLong(0), r.getLong(1)))
      .toSet // (_change_type, _commit_version, k, v)

  test("change feed across eq-delete commits: old-image deletes for matched keys, upsert appends as inserts") {
    val t = fresh("cdf")
    val v0 = GraftStore.readVersion(t)
    // v1: pure key delete — feed emits the old images, nothing else
    val v1 = GraftStore.deleteByKey(spark, t, keysDf(4L, 8L))
    assert(changes(t, v0, v1) ==
      Set(("delete", v1, 4L, 40L), ("delete", v1, 8L, 80L)))
    // v2: upsert replacing k=12 and inserting k=999 — ONE commit emits
    // the old image of 12 and both new rows; the already-dead 4/8 are
    // NOT re-emitted (pre-commit deletes mask the old-image scan)
    import spark.implicits._
    val v2 = GraftStore.upsertByKey(spark, t, Seq("k"),
      Seq((12L, -1L), (999L, -2L), (4L, -3L)).toDF("k", "v"))
    assert(changes(t, v1, v2) ==
      Set(("delete", v2, 12L, 120L),
        ("insert", v2, 12L, -1L), ("insert", v2, 999L, -2L),
        ("insert", v2, 4L, -3L)))
    // whole range composes; feed sum-of-parts == full-range read
    assert(changes(t, v0, v2) == changes(t, v0, v1) ++ changes(t, v1, v2))
    // a feed STARTING after the deletes never resurrects them: a CoW
    // DELETE of k=0..2 emits old images of the LIVE rows only
    GraftStore.deleteWhereDV(spark, t, $"k" < 3)
    val v3 = GraftStore.readVersion(t)
    assert(changes(t, v2, v3) ==
      Set(("delete", v3, 0L, 0L), ("delete", v3, 1L, 10L), ("delete", v3, 2L, 20L)))
  }

  // ------------------------------- temporal key codecs (round 13)

  private def freshTemporal(tag: String): String = {
    import spark.implicits._
    val root = graft.ops.Util.managedTempDir(s"graft_eqd_${tag}_")
    val t = s"$root/t"
    // 100 rows over 10 days × 10 users; d = DATE, ts = TIMESTAMP (NTZ
    // session parquet round-trips as TZ here — we build in-memory so the
    // column types are exactly DateType / TimestampType)
    spark.range(0, 100, 1, 4).selectExpr(
      "id AS k",
      "date_add(DATE'2024-01-01', CAST(id % 10 AS INT)) AS d",
      "timestamp_seconds(1704067200 + id * 3600) AS ts",
      "id * 10 AS v")
      .write.format("graft.sources.GraftStore").option("path", t)
      .mode("overwrite").save()
    t
  }

  test("temporal keys: date composite and timestamp-only deletes hide exactly; sidecar rides the physical lanes") {
    import spark.implicits._
    val t = freshTemporal("tkeys")
    // composite (k, date): BOTH columns must match — key (5, its real
    // day) kills exactly row 5; key (6, a day row 6 does not carry)
    // kills nothing. This is what separates a composite probe from a
    // k-only one.
    val keys = Seq(
      (5L, java.sql.Date.valueOf("2024-01-06")),  // k=5 -> d = 01-01 + 5
      (6L, java.sql.Date.valueOf("2024-01-01"))   // k=6 really has 01-07
    ).toDF("k", "d")
    val v = GraftStore.deleteByKey(spark, t, keys)
    val eqs = GraftStore.readEqDeletesOf(new File(t, s"_manifest.v$v"))
    assert(eqs.nonEmpty && eqs.forall(_.cols == Seq("k", "d")))
    assert(readT(t).filter($"k" === 5L).count() == 0, "matching pair dies")
    assert(readT(t).filter($"k" === 6L).count() == 1, "half-match survives")
    assert(readT(t).count() == 99)
    // timestamp-only delete: kill the first 5 hours
    val tsKeys = spark.range(0, 5)
      .selectExpr("timestamp_seconds(1704067200 + id * 3600) AS ts")
    GraftStore.deleteByKey(spark, t, tsKeys)
    assert(readT(t).filter($"k" < 5).count() == 0)
    assert(readT(t).count() == 94)
  }

  test("temporal keys: mistyped frames refused — date vs int, TZ vs NTZ, date vs timestamp") {
    import spark.implicits._
    val t = freshTemporal("trefuse")
    // a long frame against the date column
    val e1 = intercept[IllegalArgumentException] {
      GraftStore.deleteByKey(spark, t, Seq(0L).toDF("d"))
    }
    assert(e1.getMessage.contains("cast the key set first"))
    // an NTZ frame against the TZ timestamp column
    val e2 = intercept[IllegalArgumentException] {
      GraftStore.deleteByKey(spark, t,
        spark.range(0, 1).selectExpr(
          "CAST(timestamp_seconds(1704067200) AS TIMESTAMP_NTZ) AS ts"))
    }
    assert(e2.getMessage.contains("cast the key set first"))
    // a date frame against the timestamp column
    val e3 = intercept[IllegalArgumentException] {
      GraftStore.deleteByKey(spark, t,
        spark.range(0, 1).selectExpr("DATE'2024-01-01' AS ts"))
    }
    assert(e3.getMessage.contains("cast the key set first"))
  }

  test("temporal keys: upsert keyed (long, timestamp) revives its own rows; purge folds") {
    import spark.implicits._
    val t = freshTemporal("tupsert")
    // delete rows 0..9 by timestamp, then upsert rows 0..4 back with new v
    GraftStore.deleteByKey(spark, t, spark.range(0, 10)
      .selectExpr("timestamp_seconds(1704067200 + id * 3600) AS ts"))
    assert(readT(t).count() == 90)
    GraftStore.upsertByKey(spark, t, Seq("k", "ts"), spark.range(0, 5)
      .selectExpr("id AS k",
        "date_add(DATE'2024-01-01', CAST(id % 10 AS INT)) AS d",
        "timestamp_seconds(1704067200 + id * 3600) AS ts",
        "id * 10 + 7 AS v"))
    assert(readT(t).count() == 95)
    assert(readT(t).filter($"k" < 5).agg(
      org.apache.spark.sql.functions.sum($"v")).collect()(0).getLong(0)
      == (0 until 5).map(_ * 10 + 7).sum)
    GraftStore.purgeDeletes(spark, t)
    assert(GraftStore.readEqDeletesOf(
      new File(t, "_manifest")).isEmpty)
    assert(readT(t).count() == 95)
  }

  test("upsertByKey: every job of a commit carries the caller's job group, pool thread included") {
    import scala.jdk.CollectionConverters._
    val t = fresh("grp")
    val sc = spark.sparkContext
    val starts = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        starts.add(e.time -> Option(e.properties)
          .map(_.getProperty("spark.jobGroup.id")).orNull)
    }
    sc.addSparkListener(listener)
    try {
      // three commits: the commit pool has two threads, so the third
      // commit's sidecar job runs on a thread an earlier commit created
      val windows = (1 to 3).map { i =>
        val group = s"eqd-upsert-$i"
        sc.setJobGroup(group, s"upsert commit $i")
        val t0 = System.currentTimeMillis()
        try GraftStore.upsertByKey(spark, t, Seq("k"),
          spark.range(i * 100, i * 100 + 50, 1, 2).selectExpr("id AS k", "id AS v"))
        finally sc.clearJobGroup()
        val t1 = System.currentTimeMillis()
        Thread.sleep(20) // keep the commits' job-start windows disjoint
        (group, t0, t1)
      }
      // the listener bus delivers in order: once this marker job's start
      // arrives, every commit job's start has arrived before it
      sc.setJobGroup("eqd-upsert-drain", "drain")
      try sc.parallelize(1 to 1, 1).count() finally sc.clearJobGroup()
      val deadline = System.currentTimeMillis() + 30000
      while (!starts.asScala.exists(_._2 == "eqd-upsert-drain") &&
          System.currentTimeMillis() < deadline) Thread.sleep(10)
      windows.foreach { case (group, t0, t1) =>
        val groups = starts.asScala.collect {
          case (ts, g) if ts >= t0 && ts <= t1 => g
        }.toSeq
        assert(groups.size >= 2, s"$group: expected the data and sidecar jobs, saw $groups")
        assert(groups.forall(_ == group), s"$group: jobs carried groups $groups")
      }
    } finally sc.removeSparkListener(listener)
  }
}
