package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Sink

class SinkSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("writePartitioned lays out hive-style partition dirs and round-trips") {
    val dir = Files.createTempDirectory("sink-part").toString + "/out"
    val df = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "a", 30.0)).toDF("id", "part_key", "v")
    Sink.writePartitioned(df, dir, Seq("part_key"))
    val dirs = new java.io.File(dir).listFiles().map(_.getName).filter(_.startsWith("part_key="))
    assert(dirs.toSet == Set("part_key=a", "part_key=b"))
    val back = spark.read.parquet(dir)
    assert(back.count() == 3)
    // partition filter prunes at the source: only one partition dir is read
    val pruned = back.filter(col("part_key") === "a")
    assert(pruned.count() == 2)
    assert(pruned.queryExecution.executedPlan.toString.contains("PartitionFilters: [isnotnull(part_key"))
  }

  test("compactPartitioned: hot partition spreads over several bounded files, cold tail collapses") {
    val dir = Files.createTempDirectory("sink-compact").toString
    val src = s"$dir/appended"
    // hot partition: 900 of 1000 rows on one key; plus two cold ones.
    // Written in 5 append passes so the source accumulates small files.
    val df = spark.range(0, 1000).selectExpr("id",
      "CASE WHEN id < 900 THEN 'hot' WHEN id < 950 THEN 'c1' ELSE 'c2' END AS pk")
    (0 until 5).foreach { b =>
      df.filter(col("id") % 5 === b).repartition(4)
        .write.mode("append").partitionBy("pk").parquet(src)
    }
    val appended = spark.read.parquet(src)
    val preFiles = appended.select(input_file_name()).distinct().count()
    val budgets = Sink.compactPartitioned(appended, s"$dir/compacted", "pk", "id", 200L)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getInt(2)))).toMap
    assert(budgets("hot") == ((900L, 5)) && budgets("c1") == ((50L, 1)))
    val back = spark.read.parquet(s"$dir/compacted")
    assert(back.count() == 1000) // lossless
    val files = back.select(col("pk"), input_file_name().as("f")).distinct()
      .groupBy("pk").count().collect().map(r => (r.getString(0), r.getLong(1))).toMap
    // hot partition holds >1 file (no monolithic straggler file) and
    // every partition respects its ceil(rows/target) budget
    assert(files("hot") > 1 && files("hot") <= 5)
    assert(files("c1") == 1 && files("c2") == 1)
    val postFiles = back.select(input_file_name()).distinct().count()
    assert(postFiles < preFiles)
  }

  test("publishRoundtrip returns one pruned partition, losslessly") {
    val dir = Files.createTempDirectory("sink-pub").toString + "/mart"
    val df = Seq((1L, "F", 10.5), (2L, "O", 20.25), (3L, "F", 30.125))
      .toDF("id", "status", "v")
    val back = Sink.publishRoundtrip(spark, df, dir, "status", "F")
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(status"),
      s"partition filter must prune at the directory level:\n$plan")
    assert(back.select("id", "v").collect().map(r => (r.getLong(0), r.getDouble(1))).toSet ==
      Set((1L, 10.5), (3L, 30.125)), "roundtrip must be lossless")
  }

  test("ANN scale path: corpus written partitioned by sign bucket prunes probes") {
    import graft.functions.{vectors => V}
    val rnd = new scala.util.Random(21)
    val vecs = Seq.tabulate(64)(i => (i.toLong, Seq.fill(8)((rnd.nextFloat() - 0.5f) * 2)))
    val dir = Files.createTempDirectory("sink-ann").toString + "/corpus"
    val withBucket = vecs.toDF("vec_id", "embedding")
      .withColumn("bucket", V.signBucket(col("embedding"), 3))
    Sink.writePartitioned(withBucket, dir, Seq("bucket"))
    val corpus = spark.read.parquet(dir)
    // a probe filtered on the bucket key reads ONE partition directory
    val probe = corpus.filter(col("bucket") === "101")
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(bucket"),
      s"bucket filter must prune partitions:\n$plan")
    val expected = vecs.count { case (_, v) =>
      v.take(3).map(x => if (x >= 0) '1' else '0').mkString == "101"
    }
    assert(probe.count() == expected)
  }

  test("Upsert.merge over key-bucketed state tables plans zero Exchange") {
    import graft.operators.Upsert
    // SURVEY §5: daily merges against state bucketed on the merge key must
    // not re-shuffle the (big) base side — here proven for the actual
    // Upsert.merge path, aliases and full-outer join included.
    val base = (1L to 80L).map(i => (i, 10L, 20L, s"b$i"))
      .toDF("k", "first_seen", "last_seen", "v")
    val delta = (41L to 120L).map(i => (i, 15L, 30L, s"d$i"))
      .toDF("k", "first_seen", "last_seen", "v")
    Sink.writeBucketed(base, "upsert_base", "k", 4)
    Sink.writeBucketed(delta, "upsert_delta", "k", 4)
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val merged = Upsert.merge(
        spark.table("upsert_base"), spark.table("upsert_delta"), "k", Seq("v"))
      val plan = merged.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed merge must not shuffle:\n$plan")
      val rows = merged.collect().map(r => r.getLong(0) -> r.getString(3)).toMap
      assert(rows.size == 120)
      assert(rows(10L) == "b10", "base-only key keeps the base payload")
      assert(rows(50L) == "d50", "overlapping key: delta (EXCLUDED) wins")
      assert(rows(110L) == "d110", "delta-only key inserts")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      spark.sql("DROP TABLE IF EXISTS upsert_base")
      spark.sql("DROP TABLE IF EXISTS upsert_delta")
    }
  }

  test("tables bucketed on the join key plan a shuffle-free join") {
    val left = (1L to 100L).map(i => (i, s"l$i")).toDF("k", "lv")
    val right = (1L to 100L).map(i => (i, s"r$i")).toDF("k", "rv")
    Sink.writeBucketed(left, "bkt_left", "k", 4)
    Sink.writeBucketed(right, "bkt_right", "k", 4)
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("bkt_left").join(spark.table("bkt_right"), "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join must not shuffle:\n$plan")
      assert(joined.count() == 100)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      spark.sql("DROP TABLE IF EXISTS bkt_left")
      spark.sql("DROP TABLE IF EXISTS bkt_right")
    }
  }

  test("purgeTombstones rewrites only affected partitions; carry-forward is a rename") {
    val dir = Files.createTempDirectory("sink-purge").toString
    val (store, purged) = (s"$dir/store", s"$dir/purged")
    // 4 buckets, bucket = id % 4; tombstones hit buckets 1 and 3 only
    val df = spark.range(0, 400).selectExpr("id", "id % 4 AS bucket",
      "CAST(id AS DOUBLE) * 1.5 AS v")
    Sink.writePartitioned(df, store, Seq("bucket"))
    val schema = "id BIGINT, v DOUBLE, bucket BIGINT"
    val storeDf = spark.read.schema(schema).parquet(store)
    def basenames(path: String, b: Long) = spark.read.schema(schema).parquet(path)
      .filter(col("bucket") === b).select(input_file_name()).distinct()
      .collect().map(r => r.getString(0).substring(r.getString(0).lastIndexOf('/') + 1)).toSet
    val pre0 = basenames(store, 0L)
    val pre1 = basenames(store, 1L)
    val tombstones = spark.range(0, 400).selectExpr("id", "id % 4 AS bucket")
      .filter(col("bucket").isin(1L, 3L) && col("id") < 100)
    val nTomb = tombstones.count()
    assert(nTomb > 0)
    Sink.purgeTombstones(spark, storeDf, store, purged, "bucket", "id", tombstones)
    val back = spark.read.schema(schema).parquet(purged)
    assert(back.count() == 400 - nTomb)
    assert(back.join(tombstones.select("id"), Seq("id"), "left_semi").count() == 0)
    // unaffected bucket 0: identical file basenames (moved, not rewritten)
    assert(basenames(purged, 0L) == pre0)
    // affected bucket 1: rewritten files
    assert(basenames(purged, 1L) != pre1)
  }

  test("carry-forward renames on the store path's own filesystem, not the default one") {
    val dir = "file:" + Files.createTempDirectory("sink-carry").toString
    val schema = "id BIGINT, v DOUBLE, bucket BIGINT"
    val store = s"$dir/store"
    Sink.writePartitioned(spark.range(0, 40).selectExpr("id", "id % 4 AS bucket",
      "CAST(id AS DOUBLE) AS v"), store, Seq("bucket"))
    val storeDf = spark.read.schema(schema).parquet(store)
    val tombstones = spark.range(0, 40).selectExpr("id", "id % 4 AS bucket")
      .filter(col("id") === 5L)
    val conf = spark.sparkContext.hadoopConfiguration
    val prevDefault = conf.get("fs.defaultFS")
    // a default filesystem no store lives on: any lookup through it fails
    conf.set("fs.defaultFS", "nofs:///")
    try {
      Sink.purgeTombstones(spark, storeDf, store, s"$dir/purged", "bucket", "id", tombstones)
      val withPos = Sink.readWithPosition(spark, schema, s"$dir/purged")
      Sink.foldDeletionVectors(spark, schema, s"$dir/purged", s"$dir/folded", "bucket",
        withPos.filter(col("id") === 6L).select(col("__file"), col("__pos"), col("bucket")))
    } finally conf.set("fs.defaultFS", prevDefault)
    val back = spark.read.schema(schema).parquet(s"$dir/folded")
      .collect().map(_.getLong(0)).toSet
    assert(back == (0L until 40L).toSet -- Set(5L, 6L))
  }

  test("deletion vectors delete by POSITION, not key: one of two equal-key rows survives") {
    val dir = Files.createTempDirectory("sink-dv").toString
    val store = s"$dir/store"
    // two rows with the SAME key land in the same bucket/file; a key-level
    // delete (w10's purge) could never remove just one of them
    val df = Seq((7L, 0L, "first"), (7L, 0L, "second"), (8L, 0L, "other"),
      (9L, 1L, "carried")).toDF("id", "bucket", "tag")
    df.coalesce(1).write.partitionBy("bucket").parquet(store)
    val schema = "id BIGINT, tag STRING, bucket BIGINT"
    val withPos = Sink.readWithPosition(spark, schema, store)
    // doom exactly the key-7 row tagged 'second' — position-targeted
    val dv = withPos.filter(col("tag") === "second")
      .select(col("__file"), col("__pos"), col("bucket"))
    assert(dv.count() == 1)
    val mor = Sink.readMergeOnRead(withPos, dv)
    val got = mor.select("id", "tag").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((7L, "first"), (8L, "other"), (9L, "carried")))
    // fold: bucket 0 rewritten through the overlay, bucket 1 renamed across
    val folded = s"$dir/folded"
    Sink.foldDeletionVectors(spark, schema, store, folded, "bucket", dv)
    val back = spark.read.schema(schema).parquet(folded)
    assert(back.select("id", "tag").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet == got)
  }

  test("bloom manifest: present key keeps exactly its file, absent key skips all") {
    val dir = Files.createTempDirectory("sink-bloom").toString
    val store = s"$dir/store"
    spark.range(0, 200).selectExpr("id AS k").repartition(4).write.parquet(store)
    val (m, kh) = (4096, 5)
    val manifest = Sink.bloomManifest(spark, "k BIGINT", store, "k", m, kh)
    assert(manifest.map(_._1).distinct.length == 4)
    // the file physically holding k=42 must survive its own bloom
    val holder = spark.read.schema("k BIGINT").parquet(store)
      .filter(col("k") === 42L).select(col("_metadata.file_path"))
      .first().getString(0)
    val kept = Sink.bloomProbeFiles(spark, manifest, "k", Seq(42L), m, kh)
    assert(kept.contains(holder))
    // membership pruning: most files don't hold 42 (round-robin spread)
    assert(kept.length < 4)
    // absent key: at 50 keys/file in 4096 bits the FP odds are ~1e-6 and
    // xxhash64 is deterministic, so "skip everything" is a stable assert
    assert(Sink.bloomProbeFiles(spark, manifest, "k", Seq(987654321L), m, kh).isEmpty)
  }

  test("purgeTombstones throws when the survivors scan cannot prune") {
    val dir = Files.createTempDirectory("sink-purge-noprune").toString
    val df = spark.range(0, 40).selectExpr("id", "id % 2 AS bucket")
    // store written UNPARTITIONED: no partition column to prune on
    df.write.parquet(s"$dir/flat")
    val flat = spark.read.parquet(s"$dir/flat")
    val tomb = spark.range(0, 5).selectExpr("id", "id % 2 AS bucket")
    intercept[IllegalStateException] {
      Sink.purgeTombstones(spark, flat, s"$dir/flat", s"$dir/out", "bucket", "id", tomb)
    }
  }

  test("z-order skipping prunes files a single-column sort cannot, same answer") {
    val dir = Files.createTempDirectory("sink-zorder").toString
    // two decorrelated uniform dims: y is the bit-reversal of x's low byte
    val df = spark.range(0, 4096).selectExpr("id AS x",
      "CAST(conv(reverse(lpad(bin(id % 256), 8, '0')), 2, 10) AS BIGINT) AS y")
    val schema = "x BIGINT, y BIGINT"
    Sink.writeZordered(df, s"$dir/z", "x", "y", 16)
    // y-dominant box: full x range, narrow y band — the adversarial case
    // for an x-sorted layout (its files all span the full y range)
    val zMan = Sink.skippingManifest(spark, s"$dir/z", schema, "x", "y")
    val (zr, zKept, zTotal) = Sink.readSkipping(spark, zMan, schema,
      "x", 0.0, 4095.0, "y", 50.0, 100.0)
    val expected = df.filter(col("y").between(50, 100))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(zr.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == expected)
    assert(zKept * 2 <= zTotal, s"z-order must prune at least half: $zKept/$zTotal")
    // baseline: the same data range-sorted by x ONLY keeps EVERY file —
    // each covers the full y range, the y predicate prunes nothing
    df.repartitionByRange(16, col("x")).sortWithinPartitions("x")
      .write.parquet(s"$dir/linear")
    val lMan = Sink.skippingManifest(spark, s"$dir/linear", schema, "x", "y")
    val (_, lKept, lTotal) = Sink.readSkipping(spark, lMan, schema,
      "x", 0.0, 4095.0, "y", 50.0, 100.0)
    assert(lKept == lTotal, "x-sorted layout cannot prune a y-only box")
    assert(zKept < lKept, s"z-order ($zKept) must beat single-column sort ($lKept)")
  }

  test("ManifestStore: delta publish shares files by reference; vacuum sweeps exactly the unreachable set") {
    import graft.sources.ManifestStore
    import java.sql.Timestamp
    val root = Files.createTempDirectory("mstore").toString + "/chain"
    val schema = "k BIGINT, first_seen TIMESTAMP, last_seen TIMESTAMP, " +
      "v STRING, bucket BIGINT"
    def ts(s: Long) = new Timestamp(s * 1000)
    // v0: keys 1-6 over buckets 0/1/2 (k % 3)
    val v0 = (1L to 6L).map(k => (k, ts(k), ts(k), s"v0-$k", k % 3))
      .toDF("k", "first_seen", "last_seen", "v", "bucket")
    ManifestStore.publishInitial(spark, v0, root, "v0", "bucket")
    val m0 = ManifestStore.readManifest(spark, root, "v0").toSet
    assert(m0.nonEmpty && m0.forall(_.startsWith("bucket=")))
    // v1: update key 3 (bucket 0) + insert key 7 (bucket 1); bucket 2 untouched
    val d1 = Seq((3L, ts(30), ts(30), "v1-3", 0L), (7L, ts(31), ts(31), "v1-7", 1L))
      .toDF("k", "first_seen", "last_seen", "v", "bucket")
    ManifestStore.publishDelta(spark, d1, root, "v0", "v1", "bucket", "k",
      Seq("v"), schema)
    val m1 = ManifestStore.readManifest(spark, root, "v1").toSet
    val b2files = m0.filter(_.startsWith("bucket=2/"))
    assert(b2files.nonEmpty && b2files.subsetOf(m1),
      "untouched bucket 2 must be carried by reference")
    assert((m1 -- m0).forall(f =>
      f.startsWith("bucket=0/") || f.startsWith("bucket=1/")),
      "new files only under the affected buckets")
    // v1 content: merged state — key 3 updated, key 7 added, rest carried
    val v1 = ManifestStore.readVersion(spark, root, "v1", schema)
      .select("k", "v").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(v1 == Map(1L -> "v0-1", 2L -> "v0-2", 3L -> "v1-3", 4L -> "v0-4",
      5L -> "v0-5", 6L -> "v0-6", 7L -> "v1-7"))
    // both versions readable pre-vacuum (the rename design could not do this)
    assert(ManifestStore.readVersion(spark, root, "v0", schema).count() == 6)
    // vacuum retaining v1 only: v0-private files (old buckets 0/1) die,
    // shared bucket-2 files survive, v1 still reads
    val orphans = ManifestStore.vacuum(spark, root, retain = Seq("v1"))
    assert(orphans.nonEmpty && orphans.toSet == (m0 -- m1))
    assert(ManifestStore.listDataFiles(spark, root) == m1)
    assert(ManifestStore.listVersions(spark, root) == Seq("v1"))
    assert(ManifestStore.readVersion(spark, root, "v1", schema).count() == 7)
  }

  test("ManifestStore.vacuum refuses a corrupt chain instead of sweeping deeper") {
    import graft.sources.ManifestStore
    import java.sql.Timestamp
    val root = Files.createTempDirectory("mstore-bad").toString + "/chain"
    val df = Seq((1L, new Timestamp(1000), new Timestamp(1000), "x", 0L))
      .toDF("k", "first_seen", "last_seen", "v", "bucket")
    ManifestStore.publishInitial(spark, df, root, "v0", "bucket")
    val f = ManifestStore.readManifest(spark, root, "v0").head
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$root/data/$f"), false)
    val e = intercept[IllegalArgumentException] {
      ManifestStore.vacuum(spark, root, retain = Seq("v0"))
    }
    assert(e.getMessage.contains("missing files"))
  }

  test("ManifestStore branches: CAS fast-forward, stale promote fails, abort leaves main serving") {
    import graft.sources.ManifestStore
    import java.sql.Timestamp
    val root = Files.createTempDirectory("mstore-branch").toString + "/chain"
    def ts(s: Long) = new Timestamp(s * 1000)
    val schema = "k BIGINT, first_seen TIMESTAMP, last_seen TIMESTAMP, " +
      "v STRING, bucket BIGINT"
    val v0 = (1L to 4L).map(k => (k, ts(k), ts(k), s"v0-$k", k % 2))
      .toDF("k", "first_seen", "last_seen", "v", "bucket")
    ManifestStore.publishInitial(spark, v0, root, "v0", "bucket")
    // a ref may only point at an existing version
    intercept[IllegalArgumentException] {
      ManifestStore.setBranch(spark, root, "main", "nope")
    }
    ManifestStore.setBranch(spark, root, "main", "v0")
    assert(ManifestStore.branchHead(spark, root, "main").contains("v0"))
    assert(ManifestStore.branchHead(spark, root, "audit").isEmpty)
    // stage v1 on the audit branch; main is isolated
    val d1 = Seq((2L, ts(20), ts(20), "v1-2", 0L))
      .toDF("k", "first_seen", "last_seen", "v", "bucket")
    ManifestStore.publishDelta(spark, d1, root, "v0", "v1", "bucket", "k",
      Seq("v"), schema)
    ManifestStore.setBranch(spark, root, "audit", "v1")
    assert(ManifestStore.branchHead(spark, root, "main").contains("v0"))
    // a CAS promote with a stale expectation must fail...
    val stale = intercept[IllegalArgumentException] {
      ManifestStore.fastForward(spark, root, "main", "v9", "v1")
    }
    assert(stale.getMessage.contains("stale promote"))
    // ...and the correct one is metadata-only
    val before = ManifestStore.listDataFiles(spark, root)
    ManifestStore.fastForward(spark, root, "main", "v0", "v1")
    assert(ManifestStore.listDataFiles(spark, root) == before)
    assert(ManifestStore.branchHead(spark, root, "main").contains("v1"))
    // abort a staged v2: drop the ref, vacuum its private files; the
    // promoted head still reads in full
    val d2 = Seq((3L, ts(30), ts(30), "v2-3", 1L))
      .toDF("k", "first_seen", "last_seen", "v", "bucket")
    ManifestStore.publishDelta(spark, d2, root, "v1", "v2", "bucket", "k",
      Seq("v"), schema)
    ManifestStore.setBranch(spark, root, "audit", "v2")
    val m1 = ManifestStore.readManifest(spark, root, "v1").toSet
    val m2 = ManifestStore.readManifest(spark, root, "v2").toSet
    ManifestStore.dropBranch(spark, root, "audit")
    val orphans = ManifestStore.vacuum(spark, root, retain = Seq("v0", "v1"))
    assert(orphans.nonEmpty && orphans.toSet.subsetOf(m2 -- m1))
    assert(ManifestStore.branchHead(spark, root, "main").contains("v1"))
    val head = ManifestStore.readVersion(spark, root, "v1", schema)
      .select("k", "v").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(head == Map(1L -> "v0-1", 2L -> "v1-2", 3L -> "v0-3", 4L -> "v0-4"))
  }
}
