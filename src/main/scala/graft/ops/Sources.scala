package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Util._

/** Additional source formats (SURVEY §2.1 noted CSV/JSON as supported-but-
  * unexercised — these exercise them): Spark writes a derived CSV/JSON copy
  * of a fixture table to a temp dir, reads it back with an explicit declared
  * schema (never inferred — production stance), and aggregates; the oracle
  * computes the same aggregate from the original parquet, proving the
  * round-trip is lossless. */
object Sources {

  private def tmp(dir: String, tag: String): String = {
    val h = Integer.toHexString(dir.hashCode)
    s"${System.getProperty("java.io.tmpdir")}/graft_src_${tag}_$h"
  }

  /** CSV round-trip on supplier (with header; explicit read schema). */
  val qSrcCsv: Q = (s, dir) => {
    import s.implicits._
    val path = tmp(dir, "csv")
    table(s, dir, "supplier")
      .select($"s_suppkey", $"s_name", $"s_nationkey", $"s_acctbal")
      .write.mode("overwrite").option("header", "true").csv(path)
    val schema = StructType(Seq(
      StructField("s_suppkey", LongType), StructField("s_name", StringType),
      StructField("s_nationkey", IntegerType), StructField("s_acctbal", DoubleType)))
    s.read.schema(schema).option("header", "true").csv(path)
      .groupBy($"s_nationkey")
      .agg(count(lit(1)).as("n_supps"), dsum($"s_acctbal").as("sum_bal"))
      .orderBy($"s_nationkey")
  }

  /** JSON-lines round-trip on customer (explicit read schema). */
  val qSrcJson: Q = (s, dir) => {
    import s.implicits._
    val path = tmp(dir, "json")
    table(s, dir, "customer")
      .select($"c_custkey", $"c_mktsegment", $"c_acctbal")
      .write.mode("overwrite").json(path)
    val schema = StructType(Seq(
      StructField("c_custkey", LongType), StructField("c_mktsegment", StringType),
      StructField("c_acctbal", DoubleType)))
    s.read.schema(schema).json(path)
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n_custs"), dsum($"c_acctbal").as("sum_bal"))
      .orderBy($"c_mktsegment")
  }

  /** ORC round-trip on part — the second columnar format Spark ships
    * natively (predicate pushdown and column pruning work identically to
    * parquet through the same DataSource V1/V2 scan machinery). */
  val qSrcOrc: Q = (s, dir) => {
    import s.implicits._
    val path = tmp(dir, "orc")
    table(s, dir, "part")
      .select($"p_partkey", $"p_brand", $"p_size", $"p_retailprice")
      .write.mode("overwrite").orc(path)
    s.read.orc(path)
      .filter($"p_size" >= 10)
      .groupBy($"p_brand")
      .agg(count(lit(1)).as("n_parts"), dsum($"p_retailprice").as("sum_price"))
      .orderBy($"p_brand")
  }

  /** Avro round-trip (round 17) through graft.sources.AvroSource — the
    * image ships avro-core but not the spark-avro module, so this rides
    * the library's own DSv2 over Avro object-container files: write a
    * customer slice as one container file per partition (AvroIO.write),
    * read it back with the schema INFERRED from the file's writer
    * schema (no explicit schema — the parquet-like UX), aggregate.
    * Column pruning reaches the connector (SupportsPushDownRequiredColumns);
    * a row-major format offers no filter pushdown, so none is claimed. */
  val qSrcAvro: Q = (s, dir) => {
    import s.implicits._
    val path = tmp(dir, "avro")
    graft.sources.AvroIO.write(
      table(s, dir, "customer")
        .select($"c_custkey", $"c_name", $"c_nationkey", $"c_acctbal"),
      path)
    s.read.format("graft.sources.AvroSource").load(path)
      .filter($"c_acctbal" > 0.0)
      .groupBy($"c_nationkey")
      .agg(count(lit(1)).as("n_custs"), dsum($"c_acctbal").as("sum_bal"))
      .orderBy($"c_nationkey")
  }

  /** Avro COMPLEX types (round 18): the embeddings table —
    * `list<float>` vectors plus a nested struct and a string-keyed map
    * built from its columns — round-trips through the Avro container
    * sink/source, and a self-dot (norm²) over the read-back list proves
    * the floats returned bit-exact (the promote-then-multiply parity
    * discipline of every other embedding query). The oracle computes
    * the same projection straight from the source parquet: equality
    * means array elements, nested struct fields, and map values all
    * survived the format round-trip. */
  val qSrcAvroNested: Q = (s, dir) => {
    import s.implicits._
    val path = tmp(dir, "avro_nested")
    graft.sources.AvroIO.write(
      table(s, dir, "embeddings")
        .select($"vec_id", $"embedding",
          struct($"label", size($"embedding").as("dim")).as("meta"),
          map(lit("lbl"), $"label".cast("long")).as("tags")),
      path)
    val back = s.read.format("graft.sources.AvroSource").load(path)
    back.select($"vec_id",
        $"meta.label".as("label"), $"meta.dim".as("dim"),
        element_at($"tags", "lbl").as("lbl_tag"),
        round(dot($"embedding".cast("array<double>"),
          $"embedding".cast("array<double>")), 4).as("norm2"))
      .orderBy($"vec_id")
  }

  /** Hive-style partitioned parquet + partition pruning: write orders
    * partitioned by year, read back filtered to one year — the scan must
    * prune to that partition's directory (PartitionFilters, asserted in
    * PlanShapeSpec). The oracle computes the same aggregate from the
    * original table. */
  val qSrcPartitioned: Q = (s, dir) => {
    import s.implicits._
    val path = tmp(dir, "part_orders")
    table(s, dir, "orders")
      .withColumn("o_year", year($"o_orderdate"))
      .write.mode("overwrite").partitionBy("o_year").parquet(path)
    s.read.parquet(path)
      .filter($"o_year" === 1997)
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_orders"), dsum($"o_totalprice").as("sum_price"))
      .orderBy($"o_orderpriority")
  }

  /** Custom DataSource V2 connector (graft.sources.SynthSource): range
    * filter pushed INTO the connector (it narrows the generated interval;
    * Spark drops its post-scan filter because the pushdown is claimed
    * fully) and column pruning at the reader. Aggregates are exact:
    * val is integer-valued, so double summation is order-independent. */
  val qSrcDsv2: Q = (s, dir) => {
    import s.implicits._
    s.read.format("graft.sources.SynthSource")
      .option("rows", "100000").option("slices", "8").load()
      .filter($"id" >= 1000 && $"id" < 60000)
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n"), sum($"val").as("sum_val"))
      .orderBy($"bucket")
  }

  /** DSv2 AGGREGATE pushdown (SupportsPushDownAggregates on SynthSource):
    * COUNT/SUM/MIN/MAX grouped by bucket evaluate inside the connector —
    * each input partition emits ≤50 partial rows instead of its ~18k raw
    * rows, and Spark's final aggregate merely recombines them (SUM over
    * counts/sums, MIN over mins, MAX over maxes). Composes with the range
    * filter, which still narrows the generated interval first. At 100 TB
    * this is "run the aggregate at the storage layer": the scan→agg
    * boundary carries #groups × #partitions rows, not the table.
    * PlanShapeSpec asserts the scan's output schema IS the aggregate
    * schema (aggPushed in the scan description, no raw columns). */
  val qSrcAggpush: Q = (s, dir) => {
    import s.implicits._
    s.read.format("graft.sources.SynthSource")
      .option("rows", "200000").option("slices", "8").load()
      .filter($"id" >= 5000 && $"id" < 150000)
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n"), sum($"val").as("sum_val"),
        min($"id").as("min_id"), max($"id").as("max_id"))
      .orderBy($"bucket")
  }

  /** Storage-partitioned join (SPJ): both sides are SynthSource scans in
    * `partitionBy=bucket` mode — one input partition per bucket, each
    * tagged with its key (HasPartitionKey), the scan reporting connector
    * KeyGroupedPartitioning. With spark.sql.sources.v2.bucketing.enabled
    * and the join keyed on EXACTLY the partition key, Spark lines the two
    * 50-partition scans up and plans the join WITH NO EXCHANGE ON EITHER
    * SIDE; the downstream per-bucket aggregate inherits the same
    * clustering, so the only shuffle in the whole query is the final
    * presentation sort. This is the Iceberg-style answer to "co-locate
    * the join" at 100 TB: the storage layout, not a runtime repartition,
    * carries the distribution. Cloned session for the confs (precedent:
    * q_layout_compact); broadcast disabled so the plan is the partitioned
    * join the demo pins (a broadcast would also be shuffle-free but
    * proves nothing about SPJ). PlanShapeSpec asserts exactly one
    * Exchange (the sort) in the executed plan.
    *
    * Composition limit, pinned in SourcePushdownSpec: Spark's
    * V2ScanPartitioningAndOrdering resolves the reported partition keys
    * against the relation's ORIGINAL attributes, which aggregate pushdown
    * replaces — so a scan can carry KeyGroupedPartitioning or a pushed
    * aggregate, not both. The join here therefore reads raw rows (the
    * intra-bucket pair counts are the point), and q_src_aggpush exercises
    * the aggregate half separately. */
  val qSrcSpj: Q = (s, dir) => {
    val s2 = s.newSession()
    s2.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    import s2.implicits._
    def synth(rows: Long) = s2.read.format("graft.sources.SynthSource")
      .option("rows", rows.toString).option("partitionBy", "bucket").load()
    val a = synth(2500).select($"bucket", $"val".as("a_val"))
    val b = synth(5000).filter($"id" >= 1000).select($"bucket", $"val".as("b_val"))
    // per-bucket pair aggregate over the co-partitioned join; products are
    // integer-valued (≤999²) and per-bucket sums stay < 2^53: double-exact
    a.join(b, "bucket")
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n"), sum($"a_val" * $"b_val").as("sum_prod"))
      .orderBy($"bucket")
  }

  /** DSv2 runtime partition pruning (q_join_dpp's connector sibling):
    * SynthSource in bucketed mode implements SupportsRuntimeFiltering,
    * offering `bucket` as a runtime-filterable attribute. The selective
    * dim filter (one region's 5 nations) reaches the fact scan as a
    * dynamicpruning subquery AFTER the dim side executes, and the
    * connector drops the 45 disproved bucket partitions before planning a
    * single task — hive-layout DPP semantics for a custom source. At
    * 100 TB this is the connector hook that turns "join to a filtered
    * dim" into "read 10% of the fact table". SourcePushdownSpec pins the
    * RuntimeFilters entry in the plan AND the actual partition drop
    * (5 of 50 read). */
  val qJoinDppV2: Q = (s, dir) => {
    import s.implicits._
    val fact = s.read.format("graft.sources.SynthSource")
      .option("rows", "100000").option("partitionBy", "bucket").load()
    val dim = table(s, dir, "nation").filter($"n_regionkey" === 2)
    fact.join(dim, fact("bucket") === dim("n_nationkey"))
      .groupBy($"n_name")
      .agg(count(lit(1)).as("n"), sum($"val").as("sum_val"))
      .orderBy($"n_name")
  }

  /** Vectorized (columnar) connector read: with `columnar=true` the
    * SynthSource reader fills OnHeapColumnVectors 4096 ids per batch and
    * Spark plans a ColumnarToRow bridge into whole-stage codegen — the
    * parquet-reader architecture demonstrated at the connector level
    * (one virtual call per batch, primitive-array access for the
    * consumer). The aggregates here (avg, sum(id)) are deliberately
    * OUTSIDE the source's pushdown vocabulary so the raw columnar scan
    * is what executes; determinism: val is integer-valued so every
    * partial double sum is exact in any order, and sum(id) stays a
    * BIGINT on both engines. SourcePushdownSpec pins ColumnarToRow in
    * the plan and columnar==row-mode content equality. */
  val qSrcColumnar: Q = (s, dir) => {
    import s.implicits._
    s.read.format("graft.sources.SynthSource")
      .option("rows", "200000").option("slices", "8")
      .option("columnar", "true").load()
      .filter($"id" >= 1000 && $"id" < 150000)
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n"), avg($"val").as("avg_val"),
        sum($"id").as("sum_id"))
      .orderBy($"bucket")
  }

  /** Batch form of the connector's STREAMING surface (q_src_stream): the
    * same SynthSource table also exposes MICRO_BATCH_READ — a bounded
    * replay stream with at most `microBatchRows` ids admitted per trigger
    * (position offsets, checkpoint-resumable). The oracle can only check
    * the batch result; StreamingParitySpec runs this very aggregation via
    * readStream → memory sink, asserts stream == batch, and asserts the
    * stream made genuine multi-batch progress (≥4 triggers with rows).
    * At 100 TB the streaming path is how a backfill and its live tail
    * share one connector: same pushdown, same partitions-per-batch
    * parallelism, offsets are just log positions. */
  val qSrcStream: Q = (s, dir) => {
    import s.implicits._
    s.read.format("graft.sources.SynthSource")
      .option("rows", "20000").option("slices", "4").load()
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n"), sum($"val").as("sum_val"),
        max($"id").as("max_id"))
      .orderBy($"bucket")
  }

  /** The custom ShingleGenerator planned as a real Generator: top-10 word
    * 3-gram shingles by frequency. */
  val qUdtfGen: Q = (s, dir) => {
    import s.implicits._
    s.sessionState.functionRegistry.createOrReplaceTempFunction(
      "shingles3", exprs => ShingleGenerator(exprs.head, 3), "scala_udf")
    table(s, dir, "documents")
      .selectExpr("doc_id", "shingles3(text) AS shingle")
      .groupBy($"shingle").agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"shingle")
      .limit(10)
  }

  /** JDBC round-trip via embedded Derby (which ships in the Spark distro
    * for the Hive metastore) — closes SURVEY §2.1's "JDBC supported but
    * unexercised for lack of a fixture" note. Write supplier to a Derby
    * table, read it back as a PARTITIONED jdbc scan (4 stride-partitioned
    * parallel reads on s_suppkey — the shape that matters against a real
    * warehouse) with the balance predicate pushed into the remote WHERE
    * clause (asserted in PlanShapeSpec). Doubles round-trip IEEE-exact
    * through Derby DOUBLE, so the oracle reads the original parquet. */
  /** One unique Derby home per JVM (db files + derby.log live here, not in
    * the shared tmpdir where per-fixture-hash directories would accumulate
    * across JVMs), recursively deleted on JVM exit. Lazy: the property is
    * set exactly once, before the first embedded-Derby connection. */
  private lazy val derbyHome: String = {
    val p = java.nio.file.Files.createTempDirectory("graft_derby_")
    System.setProperty("derby.system.home", p.toString)
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      import java.nio.file.{Files, Path}
      import java.util.Comparator
      try Files.walk(p).sorted(Comparator.reverseOrder[Path]())
        .forEach(f => Files.deleteIfExists(f))
      catch { case _: Throwable => () }
    }))
    p.toString
  }

  /** Derby tables already written this JVM, keyed by (session, fixture dir).
    * computeIfAbsent makes the eager JDBC overwrite happen exactly once per
    * key and blocks a concurrent second invocation until the write commits —
    * two threads can no longer race on the same embedded DB. */
  private val jdbcWritten = new java.util.concurrent.ConcurrentHashMap[String, String]

  val qSrcJdbc: Q = (s, dir) => {
    import s.implicits._
    val url = s"jdbc:derby:$derbyHome/graft_jdbc_${Integer.toHexString(dir.hashCode)};create=true"
    jdbcWritten.computeIfAbsent(s"${Util.sessionKey(s)}:$dir", _ => {
      table(s, dir, "supplier")
        .select($"s_suppkey", $"s_name", $"s_nationkey", $"s_acctbal")
        .write.mode("overwrite").format("jdbc")
        .option("url", url).option("dbtable", "supplier").save()
      url
    })
    s.read.format("jdbc")
      .option("url", url).option("dbtable", "supplier")
      .option("partitionColumn", "s_suppkey")
      .option("lowerBound", "1").option("upperBound", "100000")
      .option("numPartitions", "4")
      .load()
      .filter($"s_acctbal" > 0)
      .orderBy($"s_suppkey")
  }

  /** Dynamic partition pruning: the partitioned fact (orders by o_year,
    * same layout as q_src_partitioned) joined to a broadcast dim whose
    * FILTER (era = 'late') — not any literal on the fact side — decides
    * which partitions matter. Spark injects the dim's post-filter key set
    * into the fact scan as a runtime partition filter
    * (`dynamicpruningexpression` in PartitionFilters, asserted in
    * PlanShapeSpec), so only the 2000/2001 directories are read. At
    * 100 TB this is THE mechanism that lets `fact ⋈ dim WHERE
    * dim.attr = x` read one partition instead of all of them when the
    * pruning key never appears as a literal. */
  val qJoinDpp: Q = (s, dir) => {
    import s.implicits._
    val path = tmp(dir, "part_orders_dpp")
    table(s, dir, "orders")
      .withColumn("o_year", year($"o_orderdate"))
      .write.mode("overwrite").partitionBy("o_year").parquet(path)
    // The dim must be a REAL scan, not a LocalRelation:
    // ConvertToLocalRelation folds a Filter over local rows into the
    // relation itself, leaving no selective Filter node for the
    // PartitionPruning rule to subscribe to — so DPP would never fire.
    val dimPath = tmp(dir, "dpp_dim")
    (1995 to 2001).toDF("d_year")
      .withColumn("era", when($"d_year" >= 2000, "late").otherwise("early"))
      .write.mode("overwrite").parquet(dimPath)
    val dim = s.read.parquet(dimPath)
    s.read.parquet(path)
      .join(broadcast(dim.filter($"era" === "late")), $"o_year" === $"d_year")
      .groupBy($"o_year")
      .agg(count(lit(1)).as("n_orders"), dsum($"o_totalprice").as("sum_price"))
      .orderBy($"o_year")
  }

  /** Schema evolution across parquet batches: an early batch without
    * c_mktsegment and a later batch with it, unioned by a mergeSchema
    * read (missing column null-extended) — the append-only data-lake
    * shape where producers add columns over time. The footer-merge cost
    * scales with FILE count, not bytes; at 100 TB you pin a table-level
    * schema instead, but the read semantics exercised here are the same. */
  val qSrcEvolution: Q = (s, dir) => {
    import s.implicits._
    val c = table(s, dir, "customer")
    val path = tmp(dir, "evolve")
    c.filter($"c_custkey" % 2 === 0)
      .select($"c_custkey", $"c_acctbal")
      .write.mode("overwrite").parquet(s"$path/b1")
    c.filter($"c_custkey" % 2 =!= 0)
      .select($"c_custkey", $"c_acctbal", $"c_mktsegment")
      .write.mode("overwrite").parquet(s"$path/b2")
    s.read.option("mergeSchema", "true").parquet(s"$path/b1", s"$path/b2")
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n_custs"), dsum($"c_acctbal").as("sum_bal"))
      .orderBy($"c_mktsegment".asc_nulls_first)
  }

  /** Raw text-line ingestion: pipe-delimited lines parsed with split +
    * casts — the "log files on a share" shape. Doubles survive the
    * round trip because Java's shortest-representation rendering parses
    * back to the identical bit pattern. */
  val qSrcText: Q = (s, dir) => {
    import s.implicits._
    val path = tmp(dir, "text")
    table(s, dir, "supplier")
      .select(concat_ws("|", $"s_suppkey", $"s_nationkey", $"s_acctbal")
        .as("value"))
      .write.mode("overwrite").text(path)
    val parts = split($"value", "\\|")
    s.read.text(path)
      .select(parts.getItem(0).cast("long").as("s_suppkey"),
        parts.getItem(1).cast("int").as("s_nationkey"),
        parts.getItem(2).cast("double").as("s_acctbal"))
      .groupBy($"s_nationkey")
      .agg(count(lit(1)).as("n_supps"), dsum($"s_acctbal").as("sum_bal"))
      .orderBy($"s_nationkey")
  }

  /** Binary files already materialized this JVM, keyed by (session, dir) —
    * the qSrcJdbc memoization pattern. */
  private val binWritten = new java.util.concurrent.ConcurrentHashMap[String, String]

  /** The binaryFile source — the real multimodal INGESTION path (the mm_*
    * family models payloads already in a table; this reads raw files into
    * (path, length, content) rows). A deterministic shard of documents is
    * materialized once per JVM as .bin files (content = the UTF-8 text
    * bytes), then read back via format("binaryFile"); the oracle never
    * touches the files — it recomputes each file's expected name, byte
    * length and hex-md5 from the SOURCE rows, so the round-trip through
    * the filesystem is what's being checked. At 100 TB this source is
    * listing-bound, not data-bound: pathGlobFilter + partitioned listing
    * parallelize the scan, and content is lazily read per task. */
  val qSrcBinaryfile: Q = (s, dir) => {
    import s.implicits._
    val binDir = binWritten.computeIfAbsent(
      s"${Util.sessionKey(s)}:$dir", _ => {
        val d = Util.managedTempDir("graft_bin_")
        // distributed export: each task writes its partition's files (on a
        // cluster `d` would be a shared filesystem path) — no driver collect
        table(s, dir, "documents")
          .filter($"doc_id" % 100 === 0)
          .select($"doc_id", $"text")
          .as[(Long, String)]
          .foreachPartition { it: Iterator[(Long, String)] =>
            it.foreach { case (id, text) =>
              java.nio.file.Files.write(
                java.nio.file.Paths.get(d, s"doc_$id.bin"),
                text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            }
          }
        d
      })
    s.read.format("binaryFile")
      .option("pathGlobFilter", "*.bin")
      .load(binDir)
      .select(regexp_extract($"path", "([^/]+)$", 1).as("fname"),
        $"length".as("flen"),
        md5(hex($"content")).as("h"))
      .orderBy($"fname")
  }

  /** Store dirs already written this JVM, keyed by (session UUID, dir) —
    * the connector write happens exactly once per fixture. */
  private val storeWritten = new java.util.concurrent.ConcurrentHashMap[String, String]

  /** DSv2 WRITE-path round trip through graft.sources.GraftStore — the
    * other half of the connector surface next to SynthSource's read
    * optimizations: the lineitem flagship aggregate is written through
    * the manifest-pointer commit protocol (clusterBy/sortBy demanded BY
    * THE SINK via RequiresDistributionAndOrdering — Spark plans the
    * exchange) and read back through the connector's scan. The DuckDB
    * oracle computes the same aggregate from the source parquet, so
    * what is hash-checked is the full write→commit→read fidelity.
    * Exactly-once under task failure and the abort path are proven in
    * GraftStoreSpec (the oracle can't kill tasks). */
  val qSinkRoundtrip: Q = (s, dir) => {
    import s.implicits._
    val path = storeWritten.computeIfAbsent(s"${Util.sessionKey(s)}:$dir", _ => {
      val d = Util.managedTempDir("graft_store_")
      table(s, dir, "lineitem")
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(count(lit(1)).as("n_rows"), dsum($"l_quantity").as("sum_qty"))
        .write.format("graft.sources.GraftStore")
        .option("path", d)
        .option("clusterBy", "l_returnflag").option("sortBy", "l_linestatus")
        .mode("overwrite").save()
      d
    })
    s.read.format("graft.sources.GraftStore").option("path", path).load()
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  /** Time-travel table dirs already written this JVM, keyed by
    * (session UUID, fixture dir). */
  private val ttWritten = new java.util.concurrent.ConcurrentHashMap[String, String]

  /** TIME TRAVEL through the manifest-pointer history (round 7): every
    * GraftStore commit retains its manifest as `_manifest.v<n>` next to
    * the atomically-swapped pointer, so any past snapshot stays readable
    * (`versionAsOf` read option, `VERSION AS OF` in catalog SQL) until
    * `expireSnapshots` reclaims it — the Iceberg/Delta history model:
    * snapshots cost one small metadata file each, data files are shared
    * across versions and GC'd only when no retained snapshot references
    * them. The query writes orders slice A (v1), appends slice B (v2),
    * then reads snapshot v1 AND the current table in one plan; the
    * oracle recomputes both contents from the source parquet, so the
    * hash check proves v1 is EXACTLY the pre-append table — the audit /
    * reproducible-training-run story at 100 TB ("train on the corpus as
    * of snapshot N" while ingestion keeps appending). Expiry + GC
    * interplay is proven in GraftStoreSpec (the oracle can't list data
    * files). */
  /** Shared two-snapshot fixture table: v1 = orders slice A, v2 = A+B
    * (one append). Written once per (session, fixture dir); the time-
    * travel, incremental-read, and history queries all read it. */
  private def ttPath(s: org.apache.spark.sql.SparkSession, dir: String): String =
    ttWritten.computeIfAbsent(s"${Util.sessionKey(s)}:$dir", _ => {
      import s.implicits._
      val d = Util.managedTempDir("graft_tt_")
      val o = table(s, dir, "orders")
        .select($"o_orderkey", $"o_custkey", $"o_totalprice")
      o.filter($"o_orderkey" % 7 === 0).write
        .format("graft.sources.GraftStore").option("path", d)
        .mode("overwrite").save() // snapshot v1
      o.filter($"o_orderkey" % 7 === 1).write
        .format("graft.sources.GraftStore").option("path", d)
        .mode("append").save() // snapshot v2 (current)
      d
    })

  private val shardWritten = new java.util.concurrent.ConcurrentHashMap[String, String]

  /** SHARDED-MANIFEST table staged once per (session, fixture): orders
    * partitioned by an 8-cell key, written with the shard threshold
    * forced low so the snapshot manifest is a manifest LIST (content-
    * addressed per-cell children), then ONE cell appended so the commit
    * exercises the append fast path (untouched cells' refs carried
    * verbatim). ManifestShardSpec pins the protocol (1-of-N child opens,
    * byte-identical regroup); this query pins end-to-end ANSWERS through
    * the sharded read path against DuckDB. */
  private def shardPath(s: org.apache.spark.sql.SparkSession, dir: String): String =
    shardWritten.computeIfAbsent(s"${Util.sessionKey(s)}:$dir", _ => {
      val root = Util.managedTempDir("graft_shardq_")
      val s2 = s.newSession()
      s2.conf.set("spark.sql.catalog.gshq", "graft.sources.GraftCatalog")
      s2.conf.set("spark.sql.catalog.gshq.root", root)
      s2.conf.set("spark.graft.manifest.shardThreshold", "2")
      table(s2, dir, "orders")
        .selectExpr("CAST(o_orderkey % 8 AS INT) AS cell",
          "o_orderkey", "o_totalprice")
        .createOrReplaceTempView("shardq_src")
      s2.sql(
        """CREATE TABLE gshq.t PARTITIONED BY (cell) AS
          |SELECT cell, o_orderkey, o_totalprice FROM shardq_src""".stripMargin)
      s2.sql(
        """INSERT INTO gshq.t
          |SELECT CAST(3 AS INT), o_orderkey + 1000000, o_totalprice
          |FROM shardq_src WHERE cell = 3""".stripMargin)
      s"$root/t"
    })

  /** Partition-filtered aggregate through the sharded manifest: the
    * pushed cell filter prunes whole CHILD manifests before any data
    * I/O, and the answer must equal DuckDB's recomputation from the
    * source parquet (base ∪ the shifted append). */
  val qStoreShard: Q = (s, dir) => {
    import s.implicits._
    val path = shardPath(s, dir)
    s.read.format("graft.sources.GraftStore").option("path", path).load()
      .filter($"cell".isin(2, 3))
      .groupBy($"cell")
      .agg(count(lit(1)).as("n_rows"), sum($"o_orderkey").as("sum_key"),
        dsum($"o_totalprice").as("sum_price"))
      .orderBy($"cell")
  }

  /** `$manifests` metadata table over the staged sharded table: the
    * manifest-LAYOUT observability surface (round 18, the Iceberg
    * manifests-table sibling of `$snapshots`/`$files`). The oracle
    * checks the layout's CONTENT invariants — per-cell live-row sums
    * and the cell-tag rendering — which are layout-independent; entry
    * counts per child (a write-parallelism artifact) stay out of the
    * hash. Zero data I/O by construction: the rows come from the
    * parent manifest's ChildRef lines alone. `chunked` pins the REAL
    * threshold-2 layout invariants (r18 review replaced a tautology):
    * every child holds at most threshold entries AND at most one child
    * per cell is partial (all non-last chunks full) — FALSE the moment
    * sharding under- or over-chunks, while staying independent of the
    * absolute file count (a write-parallelism artifact the oracle
    * cannot recompute). */
  val qStoreManifests: Q = (s, dir) => {
    val path = shardPath(s, dir)
    val root = new java.io.File(path).getParent
    val s2 = s.newSession()
    s2.conf.set("spark.sql.catalog.gshm", "graft.sources.GraftCatalog")
    s2.conf.set("spark.sql.catalog.gshm.root", root)
    s2.sql(
      """SELECT cell, CAST(sum(n_rows) AS BIGINT) AS n_rows,
        | CAST(max(n_entries) <= 2
        |   AND sum(n_entries) > (count(*) - 1) * 2 AS BOOLEAN) AS chunked
        |FROM gshm.`t$manifests`
        |GROUP BY cell ORDER BY cell""".stripMargin)
  }

  private val rewriteWritten = new java.util.concurrent.ConcurrentHashMap[String, String]

  /** FRAGMENTED-then-REPAIRED table staged once per (session, fixture):
    * orders over 4 identity cells written at shard threshold 1 (CTAS +
    * 3 full-table appends → 16 one-entry child manifests, the
    * many-small-appends fragmentation shape), then repaired with
    * `CALL rewrite_manifests` under threshold 4 — the metadata-only
    * regroup (16 → 4 children, same data files, one new commit). */
  private def rewritePath(s: org.apache.spark.sql.SparkSession, dir: String): String =
    rewriteWritten.computeIfAbsent(s"${Util.sessionKey(s)}:$dir", _ => {
      val root = Util.managedTempDir("graft_rwmq_")
      val s2 = s.newSession()
      s2.conf.set("spark.sql.catalog.gshr", "graft.sources.GraftCatalog")
      s2.conf.set("spark.sql.catalog.gshr.root", root)
      s2.conf.set("spark.graft.manifest.shardThreshold", "1")
      table(s2, dir, "orders")
        .selectExpr("CAST(o_orderkey % 4 AS INT) AS cell",
          "o_orderkey", "o_totalprice")
        .createOrReplaceTempView("rwmq_src")
      s2.sql(
        """CREATE TABLE gshr.t PARTITIONED BY (cell) AS
          |SELECT cell, o_orderkey, o_totalprice FROM rwmq_src""".stripMargin)
      (1 to 3).foreach { i =>
        s2.sql(
          s"""INSERT INTO gshr.t
             |SELECT cell, o_orderkey + ${i * 10000000L}, o_totalprice
             |FROM rwmq_src""".stripMargin)
      }
      val s3 = s.newSession()
      s3.conf.set("spark.sql.catalog.gshr3", "graft.sources.GraftCatalog")
      s3.conf.set("spark.sql.catalog.gshr3.root", root)
      s3.conf.set("spark.graft.manifest.shardThreshold", "4")
      s3.sql("CALL gshr3.system.rewrite_manifests('t')").collect()
      s"$root/t"
    })

  /** `CALL rewrite_manifests` end to end (round 19): the data-path
    * aggregate reads THROUGH the repaired manifest layout (answers must
    * equal DuckDB's recomputation from base ∪ the 3 shifted appends —
    * a regroup that lost or duplicated an entry shows up as a wrong
    * sum), joined per cell to a `$manifests` layout pin that is TRUE
    * only for canonical threshold-4 chunking (max n_entries ≤ 4 AND at
    * most one partial child per cell) — FALSE on the pre-repair
    * 16×1-entry fragmentation, so the flag proves the repair actually
    * ran, not merely that answers survived. */
  val qStoreRewriteManifests: Q = (s, dir) => {
    val path = rewritePath(s, dir)
    val root = new java.io.File(path).getParent
    val s2 = s.newSession()
    s2.conf.set("spark.sql.catalog.gshrm", "graft.sources.GraftCatalog")
    s2.conf.set("spark.sql.catalog.gshrm.root", root)
    s2.sql(
      """SELECT m.cell, d.n_rows, d.sum_key, d.sum_price, m.regrouped
        |FROM (SELECT cell, count(*) AS n_rows,
        |        CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        |        CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |      FROM gshrm.t GROUP BY cell) d
        |JOIN (SELECT cell, CAST(max(n_entries) <= 4
        |        AND sum(n_entries) > (count(*) - 1) * 4 AS BOOLEAN) AS regrouped
        |      FROM gshrm.`t$manifests` GROUP BY cell) m
        |  ON m.cell = 'c:cell=' || CAST(d.cell AS STRING)
        |ORDER BY m.cell""".stripMargin)
  }

  val qStoreTimetravel: Q = (s, dir) => {
    import s.implicits._
    val path = ttPath(s, dir)
    def agg(df: org.apache.spark.sql.DataFrame, tag: String) =
      df.groupBy(($"o_orderkey" % 10).as("bucket"))
        .agg(count(lit(1)).as("n_rows"), sum($"o_orderkey").as("sum_key"),
          dsum($"o_totalprice").as("sum_price"))
        .select(lit(tag).as("snap"), $"bucket", $"n_rows", $"sum_key", $"sum_price")
    val v1 = s.read.format("graft.sources.GraftStore")
      .option("path", path).option("versionAsOf", "1").load()
    val cur = s.read.format("graft.sources.GraftStore")
      .option("path", path).load()
    agg(v1, "v1").unionAll(agg(cur, "current"))
      .orderBy($"snap", $"bucket")
  }

  /** INCREMENTAL read (round 7) — the consumption half of the snapshot
    * history: `fromVersion=1` plans only the files ADDED since snapshot
    * v1, a metadata-time file-set diff against the retained base
    * manifest (valid because committed files are immutable; a range
    * crossing a non-append snapshot is refused — the Iceberg
    * incremental-scan contract, refusal pinned in GraftStoreSpec). The
    * oracle recomputes the appended slice from source parquet, so the
    * hash check proves the diff is EXACTLY batch B — no rescan of A, no
    * missed or duplicated rows. At 100 TB this is the daily-crawl
    * pipeline shape: each run processes precisely the new files,
    * planned from manifest lines, while the corpus behind them never
    * re-enters the scan. */
  val qStoreIncremental: Q = (s, dir) => {
    import s.implicits._
    val path = ttPath(s, dir)
    s.read.format("graft.sources.GraftStore")
      .option("path", path).option("fromVersion", "1").load()
      .groupBy(($"o_orderkey" % 10).as("bucket"))
      .agg(count(lit(1)).as("n_rows"), sum($"o_orderkey").as("sum_key"),
        dsum($"o_totalprice").as("sum_price"))
      .orderBy($"bucket")
  }

  /** Snapshot HISTORY metadata table (round 7): (version, n_rows) per
    * retained snapshot from a driver-side walk over the manifest files
    * — the `.snapshots` metadata-table economics (one small file read
    * per version, zero data I/O; this is metadata BY CONSTRUCTION, the
    * one place a driver-side list is the honest plan). File counts are
    * deliberately NOT emitted — they depend on write parallelism, while
    * row counts are content-determined, which is what the oracle can
    * recompute from source parquet. */
  val qStoreHistory: Q = (s, dir) => {
    import s.implicits._
    val path = ttPath(s, dir)
    val h = graft.sources.GraftStore.history(path)
      .map { case (v, _, rows, op) => (v, rows, op) }
    s.createDataFrame(h).toDF("version", "n_rows", "op")
      .orderBy($"version")
  }

  /** Age-expired table dirs already written this JVM, keyed by
    * (session UUID, fixture dir). */
  private val ageWritten = new java.util.concurrent.ConcurrentHashMap[String, String]

  /** TIME-BASED snapshot expiry (round 15) — the retention form every
    * production policy takes (Iceberg `expire_snapshots(older_than)`,
    * Delta `RETAIN x HOURS`). Fixture: four snapshots (overwrite + three
    * appends), v2 tagged 'audit', manifest mtimes aged to 3/2/1 days,
    * then `expireSnapshotsOlderThan(1.5 days, floor=1)` — v1 expires by
    * age, v2 is PAST the cutoff but pinned by its tag, v3/v4 are young.
    * The query reads the post-expiry history AND the tagged snapshot
    * AND the current table; the oracle recomputes all three from source
    * parquet, so the hash check proves age expiry removed exactly v1
    * and the tag kept v2 readable (its data files survived GC). */
  private def agePath(s: org.apache.spark.sql.SparkSession, dir: String): String =
    ageWritten.computeIfAbsent(s"${Util.sessionKey(s)}:$dir", _ => {
      import s.implicits._
      val d = Util.managedTempDir("graft_age_")
      val o = table(s, dir, "orders")
        .select($"o_orderkey", $"o_custkey", $"o_totalprice")
      o.filter($"o_orderkey" % 5 === 0).write
        .format("graft.sources.GraftStore").option("path", d)
        .mode("overwrite").save() // v1
      for (m <- 1 to 3)
        o.filter($"o_orderkey" % 5 === m).write
          .format("graft.sources.GraftStore").option("path", d)
          .mode("append").save() // v2..v4
      graft.sources.GraftStore.tagCreate(d, "audit", 2L)
      val now = System.currentTimeMillis()
      val day = 86400000L
      graft.sources.GraftStore.snapshotFiles(d).dropRight(1).zipWithIndex
        .foreach { case (f, i) => f.setLastModified(now - (3 - i) * day) }
      graft.sources.GraftStore.expireSnapshotsOlderThan(
        d, (1.5 * day).toLong, keepLastFloor = 1, graceMs = 0L)
      d
    })

  val qStoreExpireAge: Q = (s, dir) => {
    import s.implicits._
    val path = agePath(s, dir)
    val h = graft.sources.GraftStore.history(path)
      .map { case (v, _, rows, _) => (v, rows) }
    val hist = s.createDataFrame(h).toDF("version", "n_rows")
      .select(lit("history").as("part"), $"version", $"n_rows")
    def agg(df: org.apache.spark.sql.DataFrame, part: String, v: Long) =
      df.agg(count(lit(1)).as("n_rows"))
        .select(lit(part).as("part"), lit(v).as("version"), $"n_rows")
    val tagged = s.read.format("graft.sources.GraftStore")
      .option("path", path).option("versionAsOf", "audit").load()
    val cur = s.read.format("graft.sources.GraftStore")
      .option("path", path).load()
    hist.unionAll(agg(tagged, "tagged_read", 2L))
      .unionAll(agg(cur, "current_read", 4L))
      .orderBy($"part", $"version")
  }

  /** STREAMING read of a GraftStore table (round 7) — the table is also
    * a stream: snapshot versions are the offsets, each micro-batch is
    * exactly the files a commit range added (the incremental-read diff
    * run continuously — Delta's streaming-source design, where the txn
    * log IS the write-ahead log). The query tails the two-snapshot
    * fixture table through a real readStream→memory-sink run (bounded:
    * the retained history is drained by processAllAvailable) and
    * aggregates the drained rows; the oracle recomputes the same
    * aggregate from source parquet, proving the tail replayed the full
    * table exactly once across its version boundaries. Per-commit batch
    * granularity, the fromVersion starting offset, and the
    * snapshot-expired failure are pinned in GraftStoreSpec. At 100 TB
    * this closes the loop: backfill, live tail INTO the table
    * (q_stream_sink), and live tail OUT of it all share one commit
    * protocol and one retention story. */
  val qStreamTail: Q = (s, dir) => {
    import s.implicits._
    val path = ttPath(s, dir)
    val sink = s"tail_${java.lang.Long.toHexString(System.nanoTime())}"
    val q = s.readStream.format("graft.sources.GraftStore")
      .option("path", path).load()
      .writeStream.format("memory").queryName(sink)
      .outputMode("append")
      .option("checkpointLocation", Util.managedTempDir("graft_tail_ckpt_"))
      .start()
    try q.processAllAvailable() finally q.stop()
    Util.registerTempView(s, sink) // dropped at the next query boundary
    s.table(sink)
      .groupBy(($"o_orderkey" % 10).as("bucket"))
      .agg(count(lit(1)).as("n_rows"), sum($"o_orderkey").as("sum_key"),
        dsum($"o_totalprice").as("sum_price"))
      .orderBy($"bucket")
  }

  /** OPTIMIZE'd table dirs already written this JVM, keyed by
    * (session UUID, fixture dir). */
  private val optWritten = new java.util.concurrent.ConcurrentHashMap[String, String]

  /** Connector-level OPTIMIZE (round 7) — the table-maintenance sibling
    * of q_layout_compact, run through the commit protocol instead of a
    * path rewrite: many small files from two 8-way writes are bin-packed
    * by GraftStore.compact, which CONCATENATES each bin's length-framed
    * UnsafeRow files byte-for-byte (zero decode/re-encode — a server-
    * side multipart copy on an object store), merges their manifest
    * stats (min/max union, so file skipping keeps working on the packed
    * files), and commits ONE atomic manifest swap; one Spark task per
    * bin, the driver touches only metadata. The pre-compaction snapshot
    * stays time-travel readable (its files survive GC until snapshot
    * expiry) — OPTIMIZE is content-invisible and history-preserving,
    * which is exactly what the oracle hash-checks: the post-compaction
    * read must equal the aggregate computed from the source parquet.
    * File-count/stats/history bounds live in GraftStoreSpec. */
  val qStoreOptimize: Q = (s, dir) => {
    import s.implicits._
    val path = optWritten.computeIfAbsent(s"${Util.sessionKey(s)}:$dir", _ => {
      val d = Util.managedTempDir("graft_opt_")
      val li = table(s, dir, "lineitem")
        .select($"l_orderkey", $"l_returnflag", $"l_quantity")
      li.filter($"l_orderkey" % 2 === 0).repartition(8).write
        .format("graft.sources.GraftStore").option("path", d)
        .mode("overwrite").save() // v1: 8 small files
      li.filter($"l_orderkey" % 2 === 1).repartition(8).write
        .format("graft.sources.GraftStore").option("path", d)
        .mode("append").save() // v2: 16 small files
      graft.sources.GraftStore.compact(s, d, 1L << 30) // v3: packed
      d
    })
    s.read.format("graft.sources.GraftStore").option("path", path).load()
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n_rows"), sum($"l_orderkey").as("sum_key"),
        dsum($"l_quantity").as("sum_qty"))
      .orderBy($"l_returnflag")
  }

  /** Scoped-compaction table dirs already written this JVM. */
  private val optWhereWritten = new java.util.concurrent.ConcurrentHashMap[String, String]

  /** PREDICATE-SCOPED OPTIMIZE (round 16) — `CALL compact_where('t',
    * bytes, 'pri = 2')`: bin-pack ONLY the files the manifest stats
    * PROVE entirely inside the predicate, the
    * compact-yesterday's-partition maintenance shape (on a 100 TB table
    * nobody compacts the whole thing; they compact the slice the last
    * ingest fragmented). Out-of-scope and stats-undecidable files stay
    * byte-identical in place — pinned at the file level in
    * GraftProcedureSpec; here the fixture fragments three priority
    * slices across two appends each, scopes the compaction to one
    * slice, and the read-back aggregate must be invariant. */
  val qStoreOptimizeWhere: Q = (s, dir) => {
    import s.implicits._
    val root = optWhereWritten.computeIfAbsent(s"${Util.sessionKey(s)}:$dir", _ => {
      val rt = Util.managedTempDir("graft_optwhere_")
      val sx = s.newSession()
      sx.conf.set("spark.sql.catalog.gow", "graft.sources.GraftCatalog")
      sx.conf.set("spark.sql.catalog.gow.root", rt)
      val o = table(sx, dir, "orders")
        .select($"o_orderkey", $"o_totalprice",
          substring($"o_orderpriority", 1, 1).cast("long").as("pri"))
      (1 to 3).foreach { p =>
        (0 to 1).foreach { half =>
          o.filter($"pri" === p && $"o_orderkey" % 2 === half)
            .repartition(2)
            .write.format("graft.sources.GraftStore")
            .option("path", s"$rt/t").mode("append").save()
        }
      }
      sx.sql("CALL gow.system.compact_where('t', 1073741824, 'pri = 2')")
        .collect()
      rt
    })
    s.read.format("graft.sources.GraftStore").option("path", s"$root/t").load()
      .groupBy($"pri")
      .agg(count(lit(1)).as("n"), sum($"o_orderkey").as("sum_key"),
        dsum($"o_totalprice").as("sum_price"))
      .orderBy($"pri")
  }

  /** Dynamic-overwrite table dirs already written this JVM. */
  private val dynOverWritten = new java.util.concurrent.ConcurrentHashMap[String, String]

  /** DYNAMIC PARTITION OVERWRITE (round 15) — `INSERT OVERWRITE` under
    * `spark.sql.sources.partitionOverwriteMode=dynamic` (and
    * `df.writeTo(t).overwritePartitions()`): replace EXACTLY the
    * partitions the incoming batch carries, keep every other partition
    * untouched — the daily-restatement shape (recompute yesterday's
    * cells, never touch the rest of the corpus). On this store the
    * replaced set is decided from PER-FILE STATS: each rolled file is
    * single-valued on the partition terms, so "this file's partition is
    * being replaced" is provable metadata — and a file the stats cannot
    * pin (pre-spec history, compaction-merged cells) refuses loudly
    * rather than guessing (pinned in GraftStoreSpec). The commit records
    * op=overwrite, so the change feed emits the replaced partitions'
    * deletes + inserts and nothing for kept ones. Oracle splices the
    * same keep/replace union from source parquet. */
  val qStoreInsertOverwrite: Q = (s, dir) => {
    import s.implicits._
    val path = dynOverWritten.computeIfAbsent(s"${Util.sessionKey(s)}:$dir", _ => {
      val s2 = s.newSession()
      val root = Util.managedTempDir("graft_dynover_")
      s2.conf.set("spark.sql.catalog.gdo", "graft.sources.GraftCatalog")
      s2.conf.set("spark.sql.catalog.gdo.root", root)
      s2.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      table(s2, dir, "orders").createOrReplaceTempView("ord_do")
      s2.sql(
        """CREATE TABLE gdo.t PARTITIONED BY (pri) AS
          |SELECT o_orderkey, o_totalprice,
          |  CAST(substring(o_orderpriority, 1, 1) AS INT) AS pri
          |FROM ord_do""".stripMargin)
      // restate partitions 2 and 3 only: negated price, halved keys kept
      s2.sql(
        """INSERT OVERWRITE gdo.t
          |SELECT o_orderkey, -o_totalprice AS o_totalprice,
          |  CAST(substring(o_orderpriority, 1, 1) AS INT) AS pri
          |FROM ord_do
          |WHERE CAST(substring(o_orderpriority, 1, 1) AS INT) IN (2, 3)
          |  AND o_orderkey % 2 = 0""".stripMargin)
      s"$root/t"
    })
    s.read.format("graft.sources.GraftStore").option("path", path).load()
      .groupBy($"pri")
      .agg(count(lit(1)).as("n_rows"), sum($"o_orderkey").as("sum_key"),
        dsum($"o_totalprice").as("sum_price"))
      .orderBy($"pri")
  }

  /** Streaming-restatement table dirs already written this JVM. */
  private val restateWritten = new java.util.concurrent.ConcurrentHashMap[String, String]

  /** STREAMING RESTATEMENT (round 15) — the foreachBatch + dynamic
    * partition overwrite composition: each micro-batch REPLACES the
    * partitions it carries instead of appending, so a re-delivered or
    * corrected partition converges to its LAST delivery — the
    * recompute-yesterday's-cells pipeline shape (Delta's foreachBatch
    * replaceWhere idiom). The fixture streams 5 exact 4096-row batches
    * whose cell cycles 0,1,2,0,1; after the drain each cell holds
    * exactly its FINAL batch (cell 0 = batch 3, cell 1 = batch 4,
    * cell 2 = batch 2) — the oracle recomputes those id ranges, so the
    * hash check proves every earlier delivery was replaced, never
    * duplicated. Idempotence rides the same stats-proven replacement
    * the batch path pins in GraftStoreSpec. */
  val qStreamRestate: Q = (s, dir) => {
    import s.implicits._
    val path = restateWritten.computeIfAbsent(s"${Util.sessionKey(s)}:$dir", _ => {
      val s2 = s.newSession()
      val root = Util.managedTempDir("graft_restate_")
      s2.conf.set("spark.sql.catalog.gsr", "graft.sources.GraftCatalog")
      s2.conf.set("spark.sql.catalog.gsr.root", root)
      s2.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      s2.sql(
        """CREATE TABLE gsr.t (id BIGINT, cell BIGINT, val DOUBLE)
          |PARTITIONED BY (cell)""".stripMargin)
      val q = s2.readStream.format("graft.sources.SynthSource")
        .option("rows", "20480").option("slices", "1")
        .option("microBatchRows", "4096")
        .load()
        .selectExpr("id", "(id DIV 4096) % 3 AS cell", "val")
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          val bs = batch.sparkSession
          batch.createOrReplaceTempView("restate_batch")
          bs.sql("INSERT OVERWRITE gsr.t SELECT id, cell, val FROM restate_batch")
          ()
        }
        .option("checkpointLocation", Util.managedTempDir("graft_restate_ckpt_"))
        .start()
      try q.processAllAvailable() finally q.stop()
      s"$root/t"
    })
    s.read.format("graft.sources.GraftStore").option("path", path).load()
      .groupBy($"cell")
      .agg(count(lit(1)).as("n"), sum($"id").as("sum_id"),
        round(sum($"val"), 4).as("sum_val"),
        min($"id").as("lo"), max($"id").as("hi"))
      .orderBy($"cell")
  }

  /** Predicate-restatement table dirs already written this JVM. */
  private val restatePredWritten = new java.util.concurrent.ConcurrentHashMap[String, String]

  /** PREDICATE-SCOPED STREAMING RESTATEMENT (round 16) — foreachBatch +
    * static REPLACE WHERE on a KEYED slice, not a partition: where
    * q_stream_restate replaces whole partitions via dynamic overwrite,
    * this table is UNPARTITIONED and each micro-batch replaces exactly
    * the key slice it carries with `writeTo(t).overwrite(grp = g)` —
    * decidable from file stats alone because every batch's files are
    * single-valued on the key (batches carry one group), so the
    * tri-state prover marks each existing file AllRows or NoRows with
    * zero data I/O. A slice the stats can't prove refuses loudly
    * instead of part-replacing (pinned with the REPLACE WHERE
    * undecidable case in GraftStoreSpec). Re-delivered groups converge
    * to their LAST delivery — the arbitrary-slice backfill shape
    * ("recompute these keys") that partition-grained restatement can't
    * express without a layout change. */
  val qStreamRestatePred: Q = (s, dir) => {
    import s.implicits._
    val path = restatePredWritten.computeIfAbsent(s"${Util.sessionKey(s)}:$dir", _ => {
      val s2 = s.newSession()
      val root = Util.managedTempDir("graft_restatep_")
      s2.conf.set("spark.sql.catalog.gsp", "graft.sources.GraftCatalog")
      s2.conf.set("spark.sql.catalog.gsp.root", root)
      s2.sql("CREATE TABLE gsp.t (id BIGINT, grp BIGINT, val DOUBLE)")
      val q = s2.readStream.format("graft.sources.SynthSource")
        .option("rows", "20480").option("slices", "1")
        .option("microBatchRows", "4096")
        .load()
        .selectExpr("id", "(id DIV 4096) % 3 AS grp", "val")
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          import org.apache.spark.sql.functions.col
          // the replaced slice is derived FROM the batch content: one
          // group per batch by construction; a one-row driver read of
          // the key, never the data. An EMPTY micro-batch (some sources
          // emit one at stream end) restates nothing — guard, don't NPE
          batch.select("grp").limit(1).collect().headOption.foreach { r =>
            batch.select("id", "grp", "val")
              .writeTo("gsp.t").overwrite(col("grp") === r.getLong(0))
          }
          ()
        }
        .option("checkpointLocation", Util.managedTempDir("graft_restatep_ckpt_"))
        .start()
      try q.processAllAvailable() finally q.stop()
      s"$root/t"
    })
    s.read.format("graft.sources.GraftStore").option("path", path).load()
      .groupBy($"grp")
      .agg(count(lit(1)).as("n"), sum($"id").as("sum_id"),
        round(sum($"val"), 4).as("sum_val"),
        min($"id").as("lo"), max($"id").as("hi"))
      .orderBy($"grp")
  }

  /** Check-constraint table dirs already written this JVM. */
  private val checkWritten = new java.util.concurrent.ConcurrentHashMap[String, String]

  /** CHECK CONSTRAINTS (round 15) — Delta-style `check.<name>` table
    * properties with a twist only this manifest design affords: they
    * are enforced at COMMIT TIME from the new files' OWN stats (a file
    * passes iff the tri-state evaluator proves constraint-or-null
    * AllRows over its min/max), so ingest pays ZERO per-row cost and a
    * violating batch aborts atomically before any manifest claim.
    * `ALTER TABLE … SET TBLPROPERTIES('check.x'='…')` validates every
    * EXISTING file the same way (the Delta ADD CONSTRAINT scan, priced
    * as a driver metadata walk); unenforceable expressions refuse at
    * DDL time. The query runs the lifecycle: create with a constraint,
    * a conforming insert commits, a VIOLATING insert refuses (counted
    * in the output — if enforcement ever broke, the refusal count and
    * the row counts would both diverge from the oracle). */
  val qStoreCheck: Q = (s, dir) => {
    import s.implicits._
    val path = checkWritten.computeIfAbsent(s"${Util.sessionKey(s)}:$dir", _ => {
      val s2 = s.newSession()
      val root = Util.managedTempDir("graft_check_")
      s2.conf.set("spark.sql.catalog.gchk", "graft.sources.GraftCatalog")
      s2.conf.set("spark.sql.catalog.gchk.root", root)
      table(s2, dir, "orders").createOrReplaceTempView("ord_ck")
      s2.sql(
        """CREATE TABLE gchk.t (o_orderkey BIGINT, o_totalprice DOUBLE, pri INT)
          |TBLPROPERTIES('check.pos_price' = 'o_totalprice >= 0')""".stripMargin)
      s2.sql(
        """INSERT INTO gchk.t
          |SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice,
          |  CAST(substring(o_orderpriority, 1, 1) AS INT) AS pri
          |FROM ord_ck""".stripMargin)
      val refused =
        try {
          s2.sql(
            """INSERT INTO gchk.t
              |SELECT o_orderkey, CAST(-o_totalprice AS DOUBLE), 9
              |FROM ord_ck WHERE o_orderkey % 100 = 0""".stripMargin)
          0L
        } catch { case e: Exception
            if e.getMessage.contains("pos_price") ||
              (e.getCause != null &&
                e.getCause.getMessage.contains("pos_price")) => 1L }
      java.nio.file.Files.write(
        java.nio.file.Paths.get(root, "refused"), refused.toString.getBytes)
      s"$root/t"
    })
    val refused = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(new java.io.File(path).getParent, "refused"))).toLong
    s.read.format("graft.sources.GraftStore").option("path", path).load()
      .groupBy($"pri")
      .agg(count(lit(1)).as("n_rows"),
        Util.dsum($"o_totalprice").as("sum_price"))
      .withColumn("violations_refused", lit(refused))
      .orderBy($"pri")
  }

  /** Replace-where table dirs already written this JVM. */
  private val repWhereWritten = new java.util.concurrent.ConcurrentHashMap[String, String]

  /** STATIC REPLACE WHERE (round 15) — `INSERT OVERWRITE t PARTITION
    * (pri = 2)` in the default static mode (the Delta `replaceWhere`
    * shape): ONE atomic commit drops every file the condition PROVABLY
    * covers (tri-state stats evaluation — the metadata-only DELETE
    * discipline; an undecidable file refuses loudly) and appends the
    * incoming batch. Differs from q_store_insert_overwrite's dynamic
    * mode exactly where the semantics differ: static replaces the WHOLE
    * declared partition even when the incoming batch writes fewer rows
    * than it had (here: pri 2 restated to its even keys only). Pinned
    * protocol-level in GraftStoreSpec (one commit, kept files
    * byte-untouched, undecidable refusal, AlwaysTrue = truncate). */
  val qStoreReplaceWhere: Q = (s, dir) => {
    import s.implicits._
    val path = repWhereWritten.computeIfAbsent(s"${Util.sessionKey(s)}:$dir", _ => {
      val s2 = s.newSession()
      val root = Util.managedTempDir("graft_repwhere_")
      s2.conf.set("spark.sql.catalog.grws", "graft.sources.GraftCatalog")
      s2.conf.set("spark.sql.catalog.grws.root", root)
      table(s2, dir, "orders").createOrReplaceTempView("ord_rw")
      s2.sql(
        """CREATE TABLE grws.t PARTITIONED BY (pri) AS
          |SELECT o_orderkey, o_totalprice,
          |  CAST(substring(o_orderpriority, 1, 1) AS INT) AS pri
          |FROM ord_rw""".stripMargin)
      s2.sql(
        """INSERT OVERWRITE grws.t PARTITION (pri = 2)
          |SELECT o_orderkey, -o_totalprice AS o_totalprice
          |FROM ord_rw
          |WHERE CAST(substring(o_orderpriority, 1, 1) AS INT) = 2
          |  AND o_orderkey % 2 = 0""".stripMargin)
      s"$root/t"
    })
    s.read.format("graft.sources.GraftStore").option("path", path).load()
      .groupBy($"pri")
      .agg(count(lit(1)).as("n_rows"), sum($"o_orderkey").as("sum_key"),
        dsum($"o_totalprice").as("sum_price"))
      .orderBy($"pri")
  }

  /** Sort-OPTIMIZE'd table dirs already written this JVM. */
  private val optSortWritten = new java.util.concurrent.ConcurrentHashMap[String, String]

  /** SORT-AWARE OPTIMIZE (round 15) — `OPTIMIZE … SORT BY l_orderkey`:
    * where q_store_optimize's byte-concat bin-packing is deliberately
    * content-invisible (mixed-key files stay mixed), this rewrite
    * DECODES the files, globally range-partitions on the cluster key
    * and sorts within each output — after it, files are KEY-DISJOINT
    * with re-derived min/max/mono stats, so a point or range lookup on
    * the key prunes to ONE file (pinned in GraftStoreSpec). The fixture
    * writes 16 key-interleaved small files (every file spans the whole
    * key range — the worst case for pruning), runs
    * `CALL compact_sorted`, and the oracle recomputes the aggregate from
    * source parquet: the layout investment must be invisible to
    * results. Committed op=optimize — the change feed stays silent. */
  val qStoreOptimizeSort: Q = (s, dir) => {
    import s.implicits._
    val path = optSortWritten.computeIfAbsent(s"${Util.sessionKey(s)}:$dir", _ => {
      val s2 = s.newSession()
      val root = Util.managedTempDir("graft_optsort_")
      s2.conf.set("spark.sql.catalog.gos", "graft.sources.GraftCatalog")
      s2.conf.set("spark.sql.catalog.gos.root", root)
      import s2.implicits._
      val li = table(s2, dir, "lineitem")
        .select($"l_orderkey", $"l_returnflag", $"l_quantity")
      // hash-repartition interleaves the key across every file
      li.filter($"l_orderkey" % 2 === 0).repartition(8).write
        .format("graft.sources.GraftStore").option("path", s"$root/t")
        .mode("overwrite").save()
      li.filter($"l_orderkey" % 2 === 1).repartition(8).write
        .format("graft.sources.GraftStore").option("path", s"$root/t")
        .mode("append").save()
      s2.sql(
        s"CALL gos.system.compact_sorted('t', ${256L * 1024}, 'l_orderkey')")
        .collect()
      s"$root/t"
    })
    s.read.format("graft.sources.GraftStore").option("path", path).load()
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n_rows"), sum($"l_orderkey").as("sum_key"),
        dsum($"l_quantity").as("sum_qty"))
      .orderBy($"l_returnflag")
  }

  /** STREAMING sink (round 7): readStream on the SynthSource micro-batch
    * replay → writeStream through GraftStore's StreamingWrite — each
    * epoch commits through the same manifest-pointer protocol as a batch
    * write (epoch-tagged attempt-unique files, one atomic swap per
    * epoch, `!epoch=<n>` recorded for replay idempotence: a recovered
    * driver re-committing the last epoch is a no-op that deletes its
    * redundant files; the spec proves it at the protocol level, this
    * query proves the end-to-end content). Fresh output + checkpoint
    * dirs per invocation — the stream is bounded and deterministic
    * (position-offset replay), so the final table content is exactly the
    * id range regardless of epoch boundaries, which is what the oracle
    * hash-checks. At 100 TB this is how a live tail lands in the same
    * table format the batch backfill wrote, with the same stats lines
    * feeding the same file-skipping reads. */
  val qStreamSink: Q = (s, dir) => {
    import s.implicits._
    val out = Util.managedTempDir("graft_sink_stream_")
    val ckpt = Util.managedTempDir("graft_sink_ckpt_")
    val q = s.readStream.format("graft.sources.SynthSource")
      .option("rows", "20000").option("slices", "4")
      .option("microBatchRows", "4096")
      .load()
      .writeStream.format("graft.sources.GraftStore")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append")
      .start()
    try q.processAllAvailable() finally q.stop()
    s.read.format("graft.sources.GraftStore").option("path", out).load()
      .groupBy(($"id" % 10).as("k"))
      .agg(count(lit(1)).as("n"), sum($"id").as("sum_id"),
        round(sum($"val"), 4).as("sum_val"))
      .orderBy($"k")
  }

  /** STREAMING SINK INTO A PARTITIONED TABLE (round 13) — what was a
    * loud refusal through round 12: the epoch writer now composes with
    * hidden partitioning. Spark applies the sink Write's
    * requiredDistribution/requiredOrdering to every micro-batch exactly
    * as to a batch plan (DistributionAndOrderingUtils.prepareQuery runs
    * on WriteToMicroBatchDataSource), so rows reach tasks clustered and
    * sorted on the partition terms and the SAME per-value rolling
    * writer produces one file per (task, cell, epoch) — single-valued
    * stats by construction, so pruning and metadata-only DELETE work on
    * the streamed tail immediately, and epoch-stamped names keep the
    * replay/abort cleanup exact (a replayed epoch deletes precisely its
    * own files). This is the day-partitioned ingest tail every real
    * pipeline runs; at 100 TB the per-epoch cost is rows ∝ batch plus
    * one manifest commit, files ∝ live cells per batch. The query
    * streams the synth source into a cell-partitioned table, then
    * answers a PRUNED aggregate — the plan that proves the streamed
    * files carry the partition economics. */
  val qStreamSinkPart: Q = (s, dir) => {
    import s.implicits._
    val out = Util.managedTempDir("graft_sink_part_")
    val ckpt = Util.managedTempDir("graft_sink_part_ckpt_")
    // declare the partition spec before the first commit (what catalog
    // CREATE TABLE ... PARTITIONED BY does)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(out, "_partition"), "cell".getBytes("UTF-8"))
    val q = s.readStream.format("graft.sources.SynthSource")
      .option("rows", "20000").option("slices", "4")
      .option("microBatchRows", "4096")
      .load()
      .selectExpr("id", "id % 8 AS cell", "val")
      .writeStream.format("graft.sources.GraftStore")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append")
      .start()
    try q.processAllAvailable() finally q.stop()
    s.read.format("graft.sources.GraftStore").option("path", out).load()
      .filter($"cell" < 3) // planning-time file pruning on the tail
      .groupBy($"cell")
      .agg(count(lit(1)).as("n"), sum($"id").as("sum_id"),
        round(sum($"val"), 4).as("sum_val"))
      .orderBy($"cell")
  }

  /** STREAMING INGEST INTO A BRANCH, PUBLISHED BY FAST-FORWARD
    * (round 13) — the two round-13 surfaces composed into the
    * STAGED-TAIL pattern: the live stream lands its epochs on a named
    * branch (a branch IS a table, so the epoch-commit protocol and its
    * exactly-once replay work unchanged through `.option("branch", …)`),
    * main stays byte-identical until an explicit fast-forward publishes
    * the accumulated tail in ONE atomic commit. This is WAP for
    * streams: the consumer-visible table only ever moves in audited
    * steps, while the stream itself never stops — at 100 TB this is how
    * a continuously-ingesting table serves consumers that need
    * validated, batch-boundary-aligned snapshots. The staged side
    * time-travels to the seed to prove isolation; the published side is
    * the seed plus the entire stream. */
  val qStreamSinkBranch: Q = (s, dir) => {
    import s.implicits._
    val root = Util.managedTempDir("graft_sink_branch_")
    val t = s"$root/t"
    // seed main OUTSIDE the synth id range, then fork the ingest branch
    s.range(100000, 100500, 1, 2)
      .selectExpr("id", "CAST(id % 50 AS INT) AS bucket",
        "CAST(id * 37 % 1000 AS DOUBLE) AS val")
      .write.format("graft.sources.GraftStore").option("path", t)
      .mode("overwrite").save()
    val seedV = graft.sources.GraftStore.readVersion(t)
    graft.sources.GraftStore.branchCreate(t, "ingest")
    val q = s.readStream.format("graft.sources.SynthSource")
      .option("rows", "20000").option("slices", "4")
      .option("microBatchRows", "4096")
      .load()
      .writeStream.format("graft.sources.GraftStore")
      .option("path", t).option("branch", "ingest")
      .option("checkpointLocation",
        Util.managedTempDir("graft_sink_branch_ckpt_"))
      .outputMode("append")
      .start()
    try q.processAllAvailable() finally q.stop()
    graft.sources.GraftStore.fastForward(t, "ingest")
    def agg(tag: String, versionAsOf: Option[Long]) = {
      val r = s.read.format("graft.sources.GraftStore").option("path", t)
      versionAsOf.foreach(v => r.option("versionAsOf", v.toString))
      r.load()
        .groupBy(($"id" % 10).as("k"))
        .agg(count(lit(1)).as("n"), sum($"id").as("sum_id"),
          round(sum($"val"), 4).as("sum_val"))
        .select(lit(tag).as("side"), $"k", $"n", $"sum_id", $"sum_val")
    }
    agg("published", None).unionAll(agg("staged", Some(seedV)))
      .orderBy($"side", $"k")
  }

  /** Tagged-table dirs already written this JVM, keyed by (session, dir). */
  private val tagWritten = new java.util.concurrent.ConcurrentHashMap[String, String]

  /** NAMED SNAPSHOT TAGS (round 12) — the Iceberg ref surface that makes
    * a snapshot a durable AUDIT POINT instead of a number in someone's
    * notebook: `tagCreate(path, "audit-q1", v1)` pins v1 by name, readers
    * say `.option("versionAsOf", "audit-q1")` (or SQL
    * `VERSION AS OF 'audit-q1'`), and — the load-bearing half —
    * `expireSnapshots` retains a tagged manifest however far history
    * rolls, so the tag still answers AFTER retention expired every
    * untagged peer (this query expires down to keepLast=1 before
    * reading; the v2 manifest is gone, v1 lives only through the tag).
    * At 100 TB this is the compliance story: "the corpus exactly as the
    * 2024 audit saw it" survives years of vacuum cycles as one pinned
    * manifest + its data files, while the rest of history ages out.
    * Tag atomicity (one `Files.createFile` per `_refs/<name>`, duplicate
    * = loud refusal), expiry pinning, GC survival and `$refs` rendering
    * pinned in GraftStoreTagSpec. */
  val qStoreTag: Q = (s, dir) => {
    import s.implicits._
    val path = tagWritten.computeIfAbsent(s"${Util.sessionKey(s)}:$dir", _ => {
      val d = Util.managedTempDir("graft_tag_")
      val o = table(s, dir, "orders")
        .select($"o_orderkey", $"o_custkey", $"o_totalprice")
      o.filter($"o_orderkey" % 5 === 0).write
        .format("graft.sources.GraftStore").option("path", d)
        .mode("overwrite").save() // snapshot v1: the audited state
      graft.sources.GraftStore.tagCreate(d, "audit-q1", 1L)
      o.filter($"o_orderkey" % 5 === 1).write
        .format("graft.sources.GraftStore").option("path", d)
        .mode("append").save() // v2
      o.filter($"o_orderkey" % 5 === 2).write
        .format("graft.sources.GraftStore").option("path", d)
        .mode("append").save() // v3 (current)
      // retention rolls past everything but the current snapshot: v2's
      // manifest is expired; v1 survives ONLY because the tag pins it
      graft.sources.GraftStore.expireSnapshots(d, keepLast = 1, graceMs = 0L)
      d
    })
    def agg(df: org.apache.spark.sql.DataFrame, snap: String) =
      df.groupBy(($"o_orderkey" % 10).as("bucket"))
        .agg(count(lit(1)).as("n_rows"), sum($"o_orderkey").as("sum_key"),
          dsum($"o_totalprice").as("sum_price"))
        .select(lit(snap).as("snap"), $"bucket", $"n_rows", $"sum_key", $"sum_price")
    val tagged = s.read.format("graft.sources.GraftStore")
      .option("path", path).option("versionAsOf", "audit-q1").load()
    val cur = s.read.format("graft.sources.GraftStore")
      .option("path", path).load()
    agg(tagged, "audit-q1").unionAll(agg(cur, "current"))
      .orderBy($"snap", $"bucket")
  }

  /** Restored-table dirs already written this JVM, keyed by (session, dir). */
  private val restWritten = new java.util.concurrent.ConcurrentHashMap[String, String]

  /** RESTORE / rollback-as-commit (round 8) — the recovery half of time
    * travel: a bad commit (here: the v2 append) is undone by
    * `GraftStore.restore(path, 1)`, which re-commits snapshot v1's exact
    * file set as v3. Pure metadata — no data file is read or moved; the
    * restore is itself a history entry (Delta RESTORE semantics), so v2
    * stays time-travel readable until expiry and audit sees WHAT was
    * rolled back and WHEN. The oracle recomputes slice A from source
    * parquet: the current read after restore must be exactly the
    * pre-append table, proving the rollback byte-complete. At 100 TB
    * this is the ops story for a poisoned daily batch: one manifest
    * commit, zero data I/O, history intact. Version chain + op tags
    * pinned in GraftStoreSpec. */
  val qStoreRestore: Q = (s, dir) => {
    import s.implicits._
    val path = restWritten.computeIfAbsent(s"${Util.sessionKey(s)}:$dir", _ => {
      val d = Util.managedTempDir("graft_restore_")
      val o = table(s, dir, "orders")
        .select($"o_orderkey", $"o_custkey", $"o_totalprice")
      o.filter($"o_orderkey" % 7 === 0).write
        .format("graft.sources.GraftStore").option("path", d)
        .mode("overwrite").save() // v1: the good state
      o.filter($"o_orderkey" % 7 === 1).write
        .format("graft.sources.GraftStore").option("path", d)
        .mode("append").save() // v2: the "bad" commit
      graft.sources.GraftStore.restore(d, 1) // v3 == v1's file set
      d
    })
    s.read.format("graft.sources.GraftStore").option("path", path).load()
      .groupBy(($"o_orderkey" % 10).as("bucket"))
      .agg(count(lit(1)).as("n_rows"), sum($"o_orderkey").as("sum_key"),
        dsum($"o_totalprice").as("sum_price"))
      .orderBy($"bucket")
  }

  /** EXACTLY-ONCE foreachBatch APPEND via writer-transaction handles
    * (round 8) — the general half of q_stream_upsert's story: that query
    * is replay-safe because MERGE-max is semantically idempotent; THIS
    * one appends (no idempotent payload to lean on) and is exactly-once
    * because every micro-batch write carries (txnAppId, txnVersion =
    * batch id) and the table refuses a version it has already recorded
    * (the Delta idempotent-write design — the manifest carries per-app
    * watermarks forward through every commit, surviving vacuum). A
    * recovered driver re-delivering a batch is a no-op that deletes its
    * own files; replay behavior is pinned at the protocol level in
    * GraftStoreSpec. The oracle recomputes the full range aggregate:
    * every batch exactly once. */
  val qStreamTxnSink: Q = (s, dir) => {
    import s.implicits._
    val out = Util.managedTempDir("graft_txnsink_")
    val q = s.readStream.format("graft.sources.SynthSource")
      .option("rows", "20000").option("slices", "4")
      .option("microBatchRows", "4096")
      .load()
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        batch.select(($"id" % 10).as("k"), $"id")
          .write.format("graft.sources.GraftStore").option("path", out)
          .option("txnAppId", "tail").option("txnVersion", id.toString)
          .mode("append").save()
        ()
      }
      .option("checkpointLocation", Util.managedTempDir("graft_txnsink_ckpt_"))
      .start()
    try q.processAllAvailable() finally q.stop()
    s.read.format("graft.sources.GraftStore").option("path", out).load()
      .groupBy($"k")
      .agg(count(lit(1)).as("n"), sum($"id").as("sum_id"))
      .orderBy($"k")
  }

  /** SPJ table-pair roots already written this JVM. */
  private val spjStoreWritten = new java.util.concurrent.ConcurrentHashMap[String, String]

  /** STORAGE-PARTITIONED JOIN on GraftStore (round 8) — q_src_spj's
    * proof carried to the real table format: orders and a customer-
    * priority rollup both land PARTITIONED BY the same key, the scans
    * report KeyGroupedPartitioning with each file tagged by its cell
    * value, and the per-priority join plans with NO exchange on either
    * side (pinned in GraftStoreSpec) — Spark lines the cells up from
    * the manifests' own stats. The v2 successor of the bucketed-parquet
    * join (q_join_bucketed): writes pay the clustering once, every
    * subsequent join of tables sharing the layout reads co-located
    * cells, and the shuffle that dominates a 100 TB join plan is gone.
    * The oracle replays the join from source parquet. */
  val qStoreSpj: Q = (s, dir) => {
    val s2 = s.newSession()
    s2.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // join keys (pri, o_custkey) are a SUPERSET of the partition key —
    // co-location on pri alone satisfies the join's clustering, but
    // Spark only accepts the coarser co-partitioning when not required
    // to match every cluster key
    s2.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
    import s2.implicits._
    val root = spjStoreWritten.computeIfAbsent(s"${Util.sessionKey(s)}:$dir", _ => {
      val r = Util.managedTempDir("graft_spj_")
      val sc = s.newSession()
      sc.conf.set("spark.sql.catalog.gspj", "graft.sources.GraftCatalog")
      sc.conf.set("spark.sql.catalog.gspj.root", r)
      table(sc, dir, "orders").createOrReplaceTempView("spj_orders")
      // sortBy: the CTAS writes each partition's file SORTED on the
      // secondary join key; the writer verifies and records the order
      // per file (ColStats.mono), and the scan's reported ordering then
      // lets the SMJ below skip BOTH SortExecs (sorted SPJ)
      sc.sql(
        """CREATE TABLE gspj.o PARTITIONED BY (pri)
          |TBLPROPERTIES('sortBy'='o_custkey') AS
          |SELECT o_orderkey, o_custkey, o_totalprice,
          |  CAST(substring(o_orderpriority, 1, 1) AS INT) AS pri
          |FROM spj_orders""".stripMargin)
      sc.sql(
        """CREATE TABLE gspj.c PARTITIONED BY (pri)
          |TBLPROPERTIES('sortBy'='o_custkey') AS
          |SELECT o_custkey, count(*) AS n_orders,
          |  CAST(substring(o_orderpriority, 1, 1) AS INT) AS pri
          |FROM spj_orders GROUP BY o_custkey,
          |  CAST(substring(o_orderpriority, 1, 1) AS INT)""".stripMargin)
      r
    })
    val o = s2.read.format("graft.sources.GraftStore").option("path", s"$root/o").load()
    val c = s2.read.format("graft.sources.GraftStore").option("path", s"$root/c").load()
    o.join(c, Seq("pri", "o_custkey"))
      .groupBy($"pri")
      .agg(count(lit(1)).as("n_pairs"), sum($"n_orders").as("sum_cust_orders"),
        dsum($"o_totalprice").as("sum_price"))
      .orderBy($"pri")
  }

  private val spjMultiWritten = new java.util.concurrent.ConcurrentHashMap[String, String]

  /** MULTI-COLUMN STORAGE-PARTITIONED JOIN (round 12) — q_store_spj on a
    * TWO-column identity layout: fact and per-cell rollup both
    * `PARTITIONED BY (pri, rgn)`, each scan re-proves every selected
    * file single-valued on BOTH columns and reports
    * KeyGroupedPartitioning over the full identity prefix, so the join
    * keyed on (pri, rgn) plans with ZERO exchange on either side — the
    * Iceberg multi-transform SPJ shape. This is the day × tenant layout
    * every multi-dimension 100 TB table uses: the expensive two-key
    * hash-repartition of both inputs was paid once at write time and
    * every later co-layout join rides free. A join keyed on the leading
    * column only degrades to a shuffled plan (subset-key SPJ is an
    * explicit Spark opt-in), never a wrong one — pinned alongside the
    * zero-exchange proof in PlanShapeSpec. */
  val qStoreSpjMulti: Q = (s, dir) => {
    val s2 = s.newSession()
    s2.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    import s2.implicits._
    val root = spjMultiWritten.computeIfAbsent(s"${Util.sessionKey(s)}:$dir", _ => {
      val r = Util.managedTempDir("graft_spjm_")
      val sc = s.newSession()
      sc.conf.set("spark.sql.catalog.gspjm", "graft.sources.GraftCatalog")
      sc.conf.set("spark.sql.catalog.gspjm.root", r)
      table(sc, dir, "orders").createOrReplaceTempView("spjm_orders")
      sc.sql(
        """CREATE TABLE gspjm.o PARTITIONED BY (pri, rgn) AS
          |SELECT o_orderkey, o_totalprice,
          |  CAST(substring(o_orderpriority, 1, 1) AS INT) AS pri,
          |  o_custkey % 4 AS rgn
          |FROM spjm_orders""".stripMargin)
      sc.sql(
        """CREATE TABLE gspjm.r PARTITIONED BY (pri, rgn) AS
          |SELECT CAST(substring(o_orderpriority, 1, 1) AS INT) AS pri,
          |  o_custkey % 4 AS rgn, count(*) AS cell_orders
          |FROM spjm_orders GROUP BY 1, 2""".stripMargin)
      r
    })
    val o = s2.read.format("graft.sources.GraftStore").option("path", s"$root/o").load()
    val r = s2.read.format("graft.sources.GraftStore").option("path", s"$root/r").load()
    o.join(r, Seq("pri", "rgn"))
      .groupBy($"pri")
      .agg(count(lit(1)).as("n_rows"), sum($"o_orderkey").as("sum_key"),
        sum($"cell_orders").as("sum_cell"), dsum($"o_totalprice").as("sum_price"))
      .orderBy($"pri")
  }

  /** Timestamp-travel table dirs already written this JVM. */
  private val tsTravelWritten = new java.util.concurrent.ConcurrentHashMap[String, String]

  /** TIMESTAMP AS OF time travel (round 8) — the calendar half of
    * q_store_timetravel: `timestampAsOf` resolves to the latest snapshot
    * committed at or before the instant (the Iceberg/Delta rule) and
    * then reads exactly like a version pin. The query asks the table's
    * own commit-timestamp metadata for v1's wall clock and reads AS OF
    * that instant, so the result is deterministic (slice A, the
    * pre-append table) even though wall clocks aren't: the oracle
    * recomputes slice A from source parquet. The build spaces the two
    * commits a few ms apart so the resolution boundary is real. At
    * 100 TB this is the audit/repro question — "what did the table say
    * when the job ran last night" — answered from one manifest-header
    * walk. Boundary semantics (between-commits instant → earlier
    * snapshot; pre-history instant → refused) pinned in GraftStoreSpec. */
  val qStoreTimetravelTs: Q = (s, dir) => {
    import s.implicits._
    val path = tsTravelWritten.computeIfAbsent(s"${Util.sessionKey(s)}:$dir", _ => {
      val d = Util.managedTempDir("graft_tstravel_")
      val o = table(s, dir, "orders")
        .select($"o_orderkey", $"o_custkey", $"o_totalprice")
      o.filter($"o_orderkey" % 7 === 0).write
        .format("graft.sources.GraftStore").option("path", d)
        .mode("overwrite").save() // v1
      Thread.sleep(10) // commits a real wall-clock gap apart
      o.filter($"o_orderkey" % 7 === 1).write
        .format("graft.sources.GraftStore").option("path", d)
        .mode("append").save() // v2
      d
    })
    val tsV1 = graft.sources.GraftStore.commitTimestamps(path)
      .find(_._1 == 1L).map(_._2).getOrElse(
        throw new IllegalStateException(s"no v1 commit timestamp at $path"))
    s.read.format("graft.sources.GraftStore")
      .option("path", path).option("timestampAsOf", tsV1.toString).load()
      .groupBy(($"o_orderkey" % 10).as("bucket"))
      .agg(count(lit(1)).as("n_rows"), sum($"o_orderkey").as("sum_key"),
        dsum($"o_totalprice").as("sum_price"))
      .orderBy($"bucket")
  }

  /** Vacuumed-table dirs already written this JVM, keyed by (session, dir). */
  private val vacWritten = new java.util.concurrent.ConcurrentHashMap[String, String]

  /** VACUUM / expire-snapshots (round 8) — the retention end of the
    * snapshot lifecycle: v1 (slice A) is fully replaced by v2 (slice B,
    * overwrite), then `expireSnapshots(keepLast=1, grace=0)` drops the
    * v1 manifest and GCs the data files only v1 referenced — a
    * driver-side metadata walk plus unlink, zero data reads (the
    * Iceberg expire-snapshots economics; grace=0 is safe here because
    * no concurrent writer exists, the production default keeps a grace
    * window for in-flight writers). The oracle recomputes slice B: the
    * current read after vacuum must be byte-identical, proving
    * retention is content-invisible. Reclaimed-file and dead-manifest
    * accounting is pinned in GraftStoreSpec. At 100 TB vacuum is what
    * keeps storage ∝ live data instead of ∝ history. */
  val qStoreVacuum: Q = (s, dir) => {
    import s.implicits._
    val path = vacWritten.computeIfAbsent(s"${Util.sessionKey(s)}:$dir", _ => {
      val d = Util.managedTempDir("graft_vacuum_")
      val o = table(s, dir, "orders")
        .select($"o_orderkey", $"o_custkey", $"o_totalprice")
      o.filter($"o_orderkey" % 7 === 0).write
        .format("graft.sources.GraftStore").option("path", d)
        .mode("overwrite").save() // v1: slice A
      o.filter($"o_orderkey" % 7 === 1).write
        .format("graft.sources.GraftStore").option("path", d)
        .mode("overwrite").save() // v2: slice B replaces A entirely
      graft.sources.GraftStore.expireSnapshots(d, keepLast = 1, graceMs = 0)
      d
    })
    s.read.format("graft.sources.GraftStore").option("path", path).load()
      .groupBy(($"o_orderkey" % 10).as("bucket"))
      .agg(count(lit(1)).as("n_rows"), sum($"o_orderkey").as("sum_key"),
        dsum($"o_totalprice").as("sum_price"))
      .orderBy($"bucket")
  }

  /** Cloned-table dirs already written this JVM, keyed by (session, dir). */
  private val cloneWritten = new java.util.concurrent.ConcurrentHashMap[String, String]

  /** Zero-copy SHALLOW CLONE (round 8): `GraftStore.cloneTable` gives a
    * new table whose v1 manifest lists the SOURCE's current file
    * entries (stats included — file skipping works on the clone
    * immediately); data files are hard-linked, the local analog of the
    * object-store metadata copy Delta/Iceberg clones do. O(files)
    * driver metadata ops, zero data movement. The clone then takes an
    * append the source never sees — immutable committed files are what
    * make divergence safe (each side's DML/GC writes or unlinks its OWN
    * files). Output: both tables' aggregates, tagged — the source must
    * still be exactly slices {0,1}, the clone slices {0,1,2} — which is
    * what the oracle recomputes from source parquet. The dev/test-
    * sandbox story at 100 TB: fork a petabyte table in milliseconds,
    * experiment, throw it away. */
  val qStoreClone: Q = (s, dir) => {
    import s.implicits._
    val src = ttPath(s, dir) // slices {0,1}, never mutated by any query
    val dst = cloneWritten.computeIfAbsent(s"${Util.sessionKey(s)}:$dir", _ => {
      val d = Util.managedTempDir("graft_clone_")
      graft.sources.GraftStore.cloneTable(src, d)
      table(s, dir, "orders")
        .select($"o_orderkey", $"o_custkey", $"o_totalprice")
        .filter($"o_orderkey" % 7 === 2).write
        .format("graft.sources.GraftStore").option("path", d)
        .mode("append").save() // diverges: clone-only append
      d
    })
    def agg(path: String, tag: String) =
      s.read.format("graft.sources.GraftStore").option("path", path).load()
        .groupBy(($"o_orderkey" % 10).as("bucket"))
        .agg(count(lit(1)).as("n_rows"), sum($"o_orderkey").as("sum_key"),
          dsum($"o_totalprice").as("sum_price"))
        .select(lit(tag).as("side"), $"bucket", $"n_rows", $"sum_key", $"sum_price")
    agg(src, "src").unionAll(agg(dst, "clone"))
      .orderBy($"side", $"bucket")
  }

  /** MV OVER A GRAFTSTORE TABLE (round 8) — the lakehouse close of the MV
    * arc: freshness is the table's SNAPSHOT VERSION (not a file list), any
    * version/time/feed-pinned read is disqualified from substitution (a
    * time-travel query must never be served a current-version rollup), and
    * the refresh is CDF-DRIVEN AND SIGNED: the maintainer reads only
    * `changesFrom v1 .. v2` (changes SINCE the MV's snapshot — I/O ∝ the
    * commits in between), folds
    * +rows for inserts and −rows for deletes into the rollup, drops
    * zero-count groups, and re-registers at v2. That is the full
    * retractable incremental-view-maintenance loop every warehouse runs
    * nightly at 100 TB — append + delete both maintained without ever
    * re-scanning the table. Plan substitution pinned in PlanShapeSpec. */
  val qStoreMv: Q = (s, dir) => {
    import s.implicits._
    import graft.plans.{MvCatalog, RewriteAggToMv}
    val root = Util.managedTempDir("graft_smv_")
    val t = s"$root/t"
    val o = table(s, dir, "orders")
      .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
    o.filter($"o_orderkey" % 4 === 0)
      .write.format("graft.sources.GraftStore").option("path", t)
      .mode("overwrite").save()
    def store = s.read.format("graft.sources.GraftStore")
      .option("path", t).load()
    val key = s"graftstore:$t"
    val measures = Map("sum:o_totalprice:decimal(18,4)" -> "s_price",
      "cnt" -> "cnt")
    // v1: full rollup build + register at the current snapshot version
    val v1 = graft.sources.GraftStore.readVersion(t)
    // MV STORAGE stays exact decimal (internal); outputs are double.
    store.groupBy($"o_orderstatus")
      .agg(sum(dec($"o_totalprice")).cast("decimal(28,4)").as("s_price"),
        count(lit(1)).as("cnt"))
      .write.parquet(s"$root/mv_v1")
    MvCatalog.register(key, MvCatalog.MvDef(s"$root/mv_v1", s"v$v1",
      Set("o_orderstatus"), measures))
    // ingest since the MV: an append AND a merge-on-read delete commit
    o.filter($"o_orderkey" % 4 === 1)
      .write.format("graft.sources.GraftStore").option("path", t)
      .mode("append").save()
    graft.sources.GraftStore.deleteWhereDV(s, t, $"o_orderkey" % 9 === 0)
    val v2 = graft.sources.GraftStore.readVersion(t)
    // CDF-driven SIGNED refresh: +insert / −delete, feed rows only
    val sgn = when($"_change_type" === "insert", 1).otherwise(-1)
    val delta = s.read.format("graft.sources.GraftStore")
      .option("path", t)
      .option("changesFrom", v1.toString)
      .option("changesTo", v2.toString).load()
      .groupBy($"o_orderstatus")
      .agg(sum(dec($"o_totalprice") * sgn).cast("decimal(28,4)").as("s_price"),
        sum(sgn.cast("long")).as("cnt"))
    s.read.parquet(s"$root/mv_v1").unionAll(delta)
      .groupBy($"o_orderstatus")
      .agg(sum($"s_price").cast("decimal(28,4)").as("s_price"),
        sum($"cnt").as("cnt"))
      .filter($"cnt" > 0)
      .write.parquet(s"$root/mv_v2")
    MvCatalog.register(key, MvCatalog.MvDef(s"$root/mv_v2", s"v$v2",
      Set("o_orderstatus"), measures))
    // rule on a CLONE so the shared session's other queries stay unrewritten
    val s2 = s.newSession()
    s2.experimental.extraOptimizations =
      s2.experimental.extraOptimizations :+ RewriteAggToMv
    // the user query over the store table — served by the maintained MV
    s2.read.format("graft.sources.GraftStore").option("path", t).load()
      .groupBy($"o_orderstatus")
      .agg(dsum($"o_totalprice").as("sum_price"), count(lit(1)).as("n_rows"))
      .orderBy($"o_orderstatus")
  }

  /** JOIN MV OVER STORE TABLES (round 9) — the join-aware matcher
    * composed with the lakehouse: the MV pre-joins TWO GraftStore
    * tables (fact lineitem slice ⋈ dim orders slice) and registers
    * under the orientation-normalized key with BOTH snapshot versions
    * as fingerprints. The optimizer then serves the same store-store
    * inner equi-join from the rollup — no fact scan, no dim scan, no
    * join shuffle — and EITHER side's next commit breaks its version
    * fingerprint and declines the rewrite (freshness from the table
    * format, not a file listing). The inferred IsNotNull(join key)
    * pushdown both store scans receive is admissible by inner-join
    * semantics; anything else declines. Oracle recomputes the join
    * from source parquet; staleness decline pinned in PlanShapeSpec. */
  val qStoreMvJoin: Q = (s, dir) => {
    import s.implicits._
    import graft.plans.{MvCatalog, RewriteAggToMv}
    // FIXTURE, built once per (session, dir): the two store tables, the
    // pre-joined rollup, and its catalog registration. The OPERATOR this
    // query measures is the join-aware matcher serving a store-store
    // join from the rollup — which runs in full every invocation below
    // (fresh session, rule injection, match, substituted plan).
    val root = storeMvJoinWritten.computeIfAbsent(s"${Util.sessionKey(s)}:$dir", _ => {
      val r = Util.managedTempDir("graft_smvj_")
      val lt = s"$r/l"
      val ot = s"$r/o"
      table(s, dir, "lineitem")
        .select($"l_orderkey", $"l_extendedprice", $"l_returnflag")
        .write.format("graft.sources.GraftStore").option("path", lt)
        .mode("overwrite").save()
      table(s, dir, "orders").select($"o_orderkey", $"o_orderpriority")
        .write.format("graft.sources.GraftStore").option("path", ot)
        .mode("overwrite").save()
      val mvPath = s"$r/mv"
      s.read.format("graft.sources.GraftStore").option("path", lt).load()
        .join(s.read.format("graft.sources.GraftStore").option("path", ot).load(),
          $"l_orderkey" === $"o_orderkey")
        .groupBy($"o_orderpriority", $"l_returnflag")
        .agg(sum(dec($"l_extendedprice")).as("s_price"), count(lit(1)).as("cnt"))
        .write.parquet(mvPath)
      val (lk, ok) = (s"graftstore:$lt", s"graftstore:$ot")
      val lfp = s"v${graft.sources.GraftStore.readVersion(lt)}"
      val ofp = s"v${graft.sources.GraftStore.readVersion(ot)}"
      val (fpA, fpB) = if (lk <= ok) (lfp, ofp) else (ofp, lfp)
      MvCatalog.registerJoin(
        MvCatalog.joinKey(lk, ok, Seq("l_orderkey" -> "o_orderkey")),
        MvCatalog.JoinMvDef(mvPath, fpA, fpB,
          groupCols = Set("o_orderpriority", "l_returnflag"),
          measures = Map(
            "sum:l_extendedprice:decimal(18,4)" -> "s_price",
            "cnt" -> "cnt"),
          rows = s.read.parquet(mvPath).count()))
      r
    })
    val lt = s"$root/l"
    val ot = s"$root/o"
    def rd(sx: org.apache.spark.sql.SparkSession, p: String) =
      sx.read.format("graft.sources.GraftStore").option("path", p).load()
    val s2 = s.newSession()
    s2.experimental.extraOptimizations =
      s2.experimental.extraOptimizations :+ RewriteAggToMv
    rd(s2, lt).join(rd(s2, ot), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(dsum(col("l_extendedprice")).as("sum_price"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("o_orderpriority"))
  }

  /** EXACTLY-ONCE MV REFRESH VIA TXN WATERMARKS (round 9) — the missing
    * piece between q_store_mv's CDF-driven refresh and a production
    * refresh JOB that can crash and retry: the MV is itself a GraftStore
    * table whose every refresh commit carries (txnAppId="mv_refresh",
    * txnVersion=<source snapshot version consumed>). Delta application
    * and watermark advance are ONE atomic manifest commit, so there is
    * no window where the delta landed but the watermark didn't (or vice
    * versa) — and a DUPLICATE delivery of the same refresh (the crashed-
    * before-ack retry, run here deliberately with the same stale
    * watermark) is replayed away by the writer-transaction protocol: no
    * new snapshot, bit-identical content. The scheduler needs no
    * distributed lock and no dedup state of its own; the TABLE is the
    * ledger. Oracle recomputes the rollup from source parquet over both
    * ingest slices — equality proves the watermark loop lost nothing
    * and double-applied nothing. Version-pinning of the no-op replay in
    * GraftStoreSpec. */
  val qMvTxnRefresh: Q = (s, dir) => {
    import s.implicits._
    val root = Util.managedTempDir("graft_mvtxn_")
    val src = s"$root/src"
    val mv = s"$root/mv"
    val o = table(s, dir, "orders")
      .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
    o.filter($"o_orderkey" % 5 === 0)
      .write.format("graft.sources.GraftStore").option("path", src)
      .mode("overwrite").save()
    // MV STORAGE stays exact decimal (internal; the refresh fold re-sums
    // it) — the final read casts to double for the hash-safe output.
    def rollup(df: org.apache.spark.sql.DataFrame) =
      df.groupBy($"o_orderstatus")
        .agg(sum(dec($"o_totalprice")).cast("decimal(28,4)").as("s_price"),
          count(lit(1)).as("cnt"))
    // initial build commits WITH the consumed source version as watermark
    val v1 = graft.sources.GraftStore.readVersion(src)
    rollup(s.read.format("graft.sources.GraftStore").option("path", src).load())
      .write.format("graft.sources.GraftStore").option("path", mv)
      .option("txnAppId", "mv_refresh").option("txnVersion", v1.toString)
      .mode("overwrite").save()
    // ingest: a second slice appends (the nightly crawl)
    o.filter($"o_orderkey" % 5 === 1)
      .write.format("graft.sources.GraftStore").option("path", src)
      .mode("append").save()
    // the refresh job, parameterized by the watermark it OBSERVED —
    // running it twice with the same stale observation simulates the
    // crashed-before-ack duplicate delivery
    def applyRefresh(observedWatermark: Long): Unit = {
      val cur = graft.sources.GraftStore.readVersion(src)
      if (cur > observedWatermark) {
        val sgn = when($"_change_type" === "insert", 1).otherwise(-1)
        val delta = s.read.format("graft.sources.GraftStore")
          .option("path", src)
          .option("changesFrom", observedWatermark.toString)
          .option("changesTo", cur.toString).load()
          .groupBy($"o_orderstatus")
          .agg(sum(dec($"o_totalprice") * sgn).cast("decimal(28,4)").as("s_price"),
            sum(sgn.cast("long")).as("cnt"))
        s.read.format("graft.sources.GraftStore").option("path", mv).load()
          .unionAll(delta)
          .groupBy($"o_orderstatus")
          .agg(sum($"s_price").cast("decimal(28,4)").as("s_price"),
            sum($"cnt").as("cnt"))
          .filter($"cnt" > 0)
          .write.format("graft.sources.GraftStore").option("path", mv)
          .option("txnAppId", "mv_refresh").option("txnVersion", cur.toString)
          .mode("overwrite").save()
      }
    }
    applyRefresh(v1) // the real refresh: delta v1→v2, watermark → v2
    val committed = graft.sources.GraftStore.readVersion(mv)
    applyRefresh(v1) // duplicate delivery: same txnVersion → replayed, no commit
    assert(graft.sources.GraftStore.readVersion(mv) == committed,
      "duplicate refresh must be replayed away by the txn watermark")
    s.read.format("graft.sources.GraftStore").option("path", mv).load()
      .select($"o_orderstatus", $"s_price".cast("double").as("s_price"), $"cnt")
      .orderBy($"o_orderstatus")
  }

  /** DELETION VECTORS (round 8, second half) — merge-on-read DELETE:
    * `GraftStore.deleteWhereDV` marks matched ROWS deleted in per-file
    * position sidecars (found by one distributed scan projecting the
    * `_file`/`_pos` metadata columns; sidecars written by EXECUTORS,
    * clustered by file) and commits metadata only — write amplification
    * ∝ deleted rows, where copy-on-write (q_store_dml) rewrites every
    * file containing a match. Readers apply the vector as a frame-skip
    * — no join, no shuffle, no extra pass. Two composed deletes prove
    * DVs are CUMULATIVE over physical positions (the second delete's
    * scan sees live rows only, yet its sidecar addresses pre-deletion
    * ordinals); `purgeDeletes` then folds the vectors back into clean
    * files (reading ONLY the delete-vectored files — exact `files`
    * selection, not a table scan) and must be content-invisible: the
    * query emits the SAME aggregate from the dv'd and the purged table,
    * tagged, and the oracle recomputes both sides identically from
    * source parquet. At 100 TB this is the GDPR-deletion / CDC-retract
    * economics: deleting 0.1% of rows scattered everywhere costs MBs of
    * sidecars, not a table rewrite. Protocol bounds (sidecar I/O, CDF
    * row-level delta, stats degradation, guard rails) in
    * GraftStoreSpec. */
  val qStoreDv: Q = (s, dir) => {
    import s.implicits._
    val root = Util.managedTempDir("graft_dv_")
    val t = s"$root/t"
    table(s, dir, "orders")
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
      .filter($"o_orderkey" % 3 === 0)
      .repartition(4)
      .write.format("graft.sources.GraftStore").option("path", t)
      .mode("overwrite").save()
    graft.sources.GraftStore.deleteWhereDV(s, t, $"o_custkey" % 5 === 2)
    val vDv = graft.sources.GraftStore.deleteWhereDV(s, t,
      $"o_orderkey" % 11 === 0)
    graft.sources.GraftStore.purgeDeletes(s, t)
    // the dv side reads the PRE-purge snapshot via time travel (vectors
    // applied as frame-skips); the purged side reads the current clean
    // files — both sides must agree, and both must equal the oracle
    def agg(tag: String, versionAsOf: Option[Long]) = {
      val r = s.read.format("graft.sources.GraftStore").option("path", t)
      versionAsOf.foreach(v => r.option("versionAsOf", v.toString))
      r.load()
        .groupBy(($"o_orderkey" % 10).as("bucket"))
        .agg(count(lit(1)).as("n_rows"), sum($"o_custkey").as("sum_cust"),
          dsum($"o_totalprice").as("sum_price"))
        .select(lit(tag).as("side"), $"bucket", $"n_rows", $"sum_cust",
          $"sum_price")
    }
    agg("dv", Some(vDv)).unionAll(agg("purged", None))
      .orderBy($"side", $"bucket")
  }

  /** WRITE-AUDIT-PUBLISH (round 8, second half) — the Iceberg WAP
    * pattern on the clone-as-branch mechanism: stage a day's ingest on
    * a zero-copy BRANCH (`cloneTable` — main's readers never see staged
    * rows), AUDIT it there (the expectation query finds the planted
    * negative prices), FIX it in place with a merge-on-read DV delete,
    * then `GraftStore.publish` fast-forwards main: staged data files
    * hard-link over (zero bytes rewritten) and the branch's manifest
    * commits through main's compare-and-swap pinned at the FORK version
    * — any commit that landed on main since the fork turns publish into
    * a ConflictException instead of a lost update (re-branch + replay,
    * git's fast-forward discipline). The final main read must be: the
    * original slice, plus the staged slice MINUS the rows the audit
    * killed — which is exactly what the oracle recomputes from source
    * parquet. The 100 TB ingest-quality story: bad data never touches
    * the serving table, and publishing a validated petabyte costs one
    * manifest commit. Conflict/atomicity bounds in GraftStoreSpec. */
  val qStoreWap: Q = (s, dir) => {
    import s.implicits._
    val root = Util.managedTempDir("graft_wap_")
    val main = s"$root/main"
    val branch = s"$root/branch"
    val o = table(s, dir, "orders")
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
    o.filter($"o_orderkey" % 5 === 0)
      .write.format("graft.sources.GraftStore").option("path", main)
      .mode("overwrite").save()
    graft.sources.GraftStore.cloneTable(main, branch)
    // the day's ingest, with planted corruption: % 13 rows arrive with
    // negated prices
    o.filter($"o_orderkey" % 5 === 1)
      .withColumn("o_totalprice",
        when($"o_orderkey" % 13 === 0, -$"o_totalprice")
          .otherwise($"o_totalprice"))
      .write.format("graft.sources.GraftStore").option("path", branch)
      .mode("append").save()
    // AUDIT on the branch; the expectation failing rows are then killed
    // in place by a merge-on-read delete — main never saw any of it
    val bad = s.read.format("graft.sources.GraftStore").option("path", branch)
      .load().filter($"o_totalprice" < 0).count()
    if (bad > 0)
      graft.sources.GraftStore.deleteWhereDV(s, branch, $"o_totalprice" < 0)
    graft.sources.GraftStore.publish(main, branch)
    s.read.format("graft.sources.GraftStore").option("path", main).load()
      .groupBy(($"o_orderkey" % 10).as("bucket"))
      .agg(count(lit(1)).as("n_rows"), sum($"o_orderkey").as("sum_key"),
        dsum($"o_totalprice").as("sum_price"))
      .orderBy($"bucket")
  }

  /** NAMED WRITABLE BRANCHES (round 13) — the Iceberg branch-ref surface
    * and the WAP-v2 upgrade over q_store_wap's bare clone: `branchCreate`
    * forks a named branch (`_branches/<name>/`, hard-linked clone whose
    * manifest numbering CONTINUES main's lineage from the fork version),
    * ordinary readers/writers route to it via `.option("branch", name)`
    * — every table feature works on a branch because a branch IS a
    * table — and `fastForward` publishes it back in one atomic main
    * commit, refusing if main has diverged (the Iceberg fast-forward
    * ancestor contract) and squashing post-fork addedv/eq-seq stamps
    * order-soundly (the unsound shape — post-fork file predating a
    * post-fork eq-delete — refuses with purgeDeletes as the remedy).
    * The query runs the full audit cycle TWICE on the same branch (the
    * fork marker advances at publish, so one long-lived `audit` branch
    * serves every ingest cycle — the multi-writer pipeline shape):
    * ingest with planted corruption → audit on the branch → MOR-delete
    * the bad rows branch-side → verify main is UNTOUCHED (the "staged"
    * aggregate) → fast-forward. At 100 TB a branch costs O(files)
    * metadata and zero data bytes; publish is one manifest commit. */
  val qStoreBranch: Q = (s, dir) => {
    import s.implicits._
    val root = Util.managedTempDir("graft_branch_")
    val main = s"$root/main"
    val o = table(s, dir, "orders")
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
    o.filter($"o_orderkey" % 5 === 0)
      .write.format("graft.sources.GraftStore").option("path", main)
      .mode("overwrite").save()
    graft.sources.GraftStore.branchCreate(main, "audit")
    val seedV = graft.sources.GraftStore.readVersion(main)
    def agg(tag: String, versionAsOf: Option[Long] = None) = {
      val r = s.read.format("graft.sources.GraftStore").option("path", main)
      versionAsOf.foreach(v => r.option("versionAsOf", v.toString))
      r.load()
        .groupBy(($"o_orderkey" % 10).as("bucket"))
        .agg(count(lit(1)).as("n_rows"), sum($"o_orderkey").as("sum_key"),
          dsum($"o_totalprice").as("sum_price"))
        .select(lit(tag).as("side"), $"bucket", $"n_rows", $"sum_key",
          $"sum_price")
    }
    def cycle(rem: Int): Unit = {
      // the day's ingest lands ON THE BRANCH; % 13 rows arrive corrupt
      o.filter($"o_orderkey" % 5 === rem)
        .withColumn("o_totalprice",
          when($"o_orderkey" % 13 === 0, -$"o_totalprice")
            .otherwise($"o_totalprice"))
        .write.format("graft.sources.GraftStore").option("path", main)
        .option("branch", "audit").mode("append").save()
      // AUDIT on the branch; kill the failures in place (MOR delete)
      val bad = s.read.format("graft.sources.GraftStore").option("path", main)
        .option("branch", "audit").load()
        .filter($"o_totalprice" < 0).count()
      if (bad > 0)
        graft.sources.GraftStore.deleteWhereDV(s,
          graft.sources.GraftStore.branchPath(main, "audit"),
          $"o_totalprice" < 0)
      graft.sources.GraftStore.fastForward(main, "audit")
    }
    cycle(1)
    cycle(2) // same branch, second audit cycle — fork marker advanced
    // metadata leg (r14): the $branches table's deterministic columns —
    // after the second publish the branch content equals main's, so its
    // n_rows is oracle-computable; retain_for_ms is the retention
    // surface pinned to a fixed policy value (timestamps stay out of
    // the oracle: wall clock)
    graft.sources.GraftStore.branchSetRetain(main, "audit", 86400000L)
    // catalog on a derived session: CatalogManager caches the first
    // instance per session, so registering it on `s` would leak conf
    // and pin every later call to this call's root
    val sm = s.newSession()
    sm.conf.set("spark.sql.catalog.gbrq", "graft.sources.GraftCatalog")
    sm.conf.set("spark.sql.catalog.gbrq.root", root)
    val meta = sm.sql("SELECT branch, n_rows, retain_for_ms FROM gbrq.`main$branches`")
      .select(concat(lit("meta:"), $"branch").as("side"),
        lit(-1L).as("bucket"), $"n_rows",
        $"retain_for_ms".as("sum_key"), lit(0.0).as("sum_price"))
    // "staged" time-travels to the pre-publish seed snapshot: proof the
    // branch writes and audits never touched main until fast-forward
    agg("published").unionAll(agg("staged", Some(seedV))).unionAll(meta)
      .orderBy($"side", $"bucket")
  }

  /** STREAMING UPSERT (round 8) — the CDC-apply loop at the heart of
    * every incremental 100 TB pipeline: a stream lands in the table not
    * as blind appends but as per-micro-batch MERGEs (foreachBatch — the
    * Structured Streaming idiom for sinks with richer-than-append
    * semantics). Each batch pre-aggregates to one row per key (latest =
    * max id wins) BEFORE merging — the shuffle is batch-sized — and the
    * MERGE's update arm guards `s.id > t.id`, so the final table state
    * is max-per-key over the whole stream regardless of how the source
    * was chopped into batches: exactly-once-EFFECTIVE even under batch
    * replay, because the merge is idempotent by construction. The
    * oracle computes max-per-key over the full id range. Batch
    * boundaries + replay idempotence are additionally pinned in
    * GraftStoreSpec's epoch tests. */
  val qStreamUpsert: Q = (s, dir) => {
    import s.implicits._
    // the CONFIGURED SESSION + TARGET TABLE persist across invocations
    // (one per parent session): the MERGE loop is idempotent by
    // construction — max-per-key with an `s.id > t.id` update guard —
    // so replaying the whole stream onto the already-populated table is
    // a no-op-effective CDC re-delivery and the final state is invariant.
    // That makes reuse HONEST: each invocation still times the full
    // 5-epoch merge replay (fresh checkpoint below), measuring the
    // steady-state CDC-apply shape instead of session bootstrap +
    // CREATE TABLE.
    val (s2, _) = upsertSession.computeIfAbsent(s"${Util.sessionKey(s)}:$dir", _ => {
      val sx = s.newSession()
      val root = Util.managedTempDir("graft_upsert_")
      sx.conf.set("spark.sql.catalog.graftu", "graft.sources.GraftCatalog")
      sx.conf.set("spark.sql.catalog.graftu.root", root)
      batchSized(sx)
      // the target is a compact CDC dimension (one file after every
      // merge): the runtime group-filter subquery each MERGE plans can
      // never prune a file, so it is one pure-overhead Spark job per
      // epoch here. A LARGE partitioned target keeps it ON — that is
      // where scoped rewrites come from.
      sx.conf.set("spark.sql.optimizer.runtime.rowLevelOperationGroupFilter.enabled",
        "false")
      sx.sql(
        """CREATE TABLE graftu.u AS
          |SELECT CAST(0 AS BIGINT) AS k, CAST(0 AS BIGINT) AS id
          |WHERE 1 = 0""".stripMargin)
      (sx, root)
    })
    val q = s2.readStream.format("graft.sources.SynthSource")
      .option("rows", "20000").option("slices", "4")
      .option("microBatchRows", "4096")
      .load()
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        // persist the pre-aggregated upsert set: the MERGE references its
        // source subplan more than once (matched + not-matched arms under
        // the full-outer rewrite), and without a materialization the
        // batch agg would recompute per reference
        val up = batch.groupBy(($"id" % 1000).as("k"))
          .agg(max($"id").as("id")).persist()
        try {
          up.createOrReplaceTempView("up_batch")
          up.sparkSession.sql(
            """MERGE INTO graftu.u t USING up_batch s ON t.k = s.k
              |WHEN MATCHED AND s.id > t.id THEN UPDATE SET id = s.id
              |WHEN NOT MATCHED THEN INSERT (k, id) VALUES (s.k, s.id)""".stripMargin)
        } finally { up.unpersist(blocking = false); () }
        ()
      }
      .option("checkpointLocation", Util.managedTempDir("graft_upsert_ckpt_"))
      .start()
    try q.processAllAvailable() finally q.stop()
    s2.sql("SELECT k, id FROM graftu.u ORDER BY k")
  }

  /** Configured upsert sessions (catalog conf + target table), keyed by
    * (parent session UUID, fixture dir). */
  private val upsertSession = new java.util.concurrent.ConcurrentHashMap[
    String, (org.apache.spark.sql.SparkSession, String)]

  /** STREAMING CDC APPLY, MERGE-ON-READ (round 12) — q_stream_upsert's
    * exact pipeline against a `write.mode=merge-on-read` target: each
    * micro-batch's idempotent MERGE (max-per-key, `s.id > t.id` guard)
    * routes through the DELTA row-level path, so an epoch marks its
    * superseded rows in deletion-vector sidecars and appends the new
    * versions — matched files' bytes are never rewritten, and vectors
    * COMPOSE across epochs (epoch N's `_pos` addresses the physical
    * pre-deletion ordinals, so five sequential merges stack correctly).
    * This workload updates densely, so MOR's write-amplification win is
    * modest here — the 100 TB case for it is the SPARSE-update CDC feed
    * (0.1% of keys per batch) where CoW rewrites every touched file and
    * MOR writes a few KB of sidecars; what this query proves is that
    * the steady-state streaming apply loop and the MOR write path
    * compose, batch after batch, to the same relational answer. Oracle:
    * identical to q_stream_upsert — hash-equal results prove CoW and
    * MOR implement one streaming-MERGE semantics. */
  val qStreamUpsertMor: Q = (s, dir) => {
    import s.implicits._
    val (s2, _) = upsertMorSession.computeIfAbsent(s"${Util.sessionKey(s)}:$dir", _ => {
      val sx = s.newSession()
      val root = Util.managedTempDir("graft_upsertmor_")
      sx.conf.set("spark.sql.catalog.graftum", "graft.sources.GraftCatalog")
      sx.conf.set("spark.sql.catalog.graftum.root", root)
      batchSized(sx)
      sx.conf.set("spark.sql.optimizer.runtime.rowLevelOperationGroupFilter.enabled",
        "false")
      sx.sql(
        """CREATE TABLE graftum.u
          |TBLPROPERTIES('write.mode'='merge-on-read') AS
          |SELECT CAST(0 AS BIGINT) AS k, CAST(0 AS BIGINT) AS id
          |WHERE 1 = 0""".stripMargin)
      (sx, root)
    })
    val q = s2.readStream.format("graft.sources.SynthSource")
      .option("rows", "20000").option("slices", "4")
      .option("microBatchRows", "4096")
      .load()
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val up = batch.groupBy(($"id" % 1000).as("k"))
          .agg(max($"id").as("id")).persist()
        try {
          up.createOrReplaceTempView("up_mor_batch")
          up.sparkSession.sql(
            """MERGE INTO graftum.u t USING up_mor_batch s ON t.k = s.k
              |WHEN MATCHED AND s.id > t.id THEN UPDATE SET id = s.id
              |WHEN NOT MATCHED THEN INSERT (k, id) VALUES (s.k, s.id)""".stripMargin)
        } finally { up.unpersist(blocking = false); () }
        ()
      }
      .option("checkpointLocation", Util.managedTempDir("graft_upsertmor_ckpt_"))
      .start()
    try q.processAllAvailable() finally q.stop()
    s2.sql("SELECT k, id FROM graftum.u ORDER BY k")
  }

  /** Configured MOR upsert sessions, keyed by (parent session UUID, dir). */
  private val upsertMorSession = new java.util.concurrent.ConcurrentHashMap[
    String, (org.apache.spark.sql.SparkSession, String)]

  /** EQUALITY DELETES + CDC UPSERT-BY-KEY (round 12) — the Iceberg-v2
    * equality-delete design, the third row-level-delete flavor after
    * copy-on-write (q_store_merge) and position-vector MOR (q_store_dv/
    * q_store_merge_mor): `deleteByKey` commits a KEY-SET sidecar that
    * hides every matching row in every file born before it, WITHOUT
    * reading a single data file — where a position delete must first
    * FIND the rows (a keyed scan per batch), an equality delete just
    * writes the keys. `upsertByKey` is the Flink-on-Iceberg CDC apply:
    * ONE commit that eq-deletes the batch's keys and appends its rows,
    * the appended files stamped with the committing version so the
    * strict `addedv < seq` rule exempts them from their own delete —
    * which is also what lets an upsert REVIVE a previously-deleted key.
    * At 100 TB the steady-state CDC apply writes the batch plus a KB
    * key sidecar and touches nothing else; readers probe a per-sidecar
    * hash set loaded once per executor JVM, and purgeDeletes folds the
    * sets back into clean files (restoring metadata-only answers). The
    * query proves the full lifecycle: delete → upsert-with-revival →
    * read through the probe path → purge → read the folded files —
    * both reads hash-equal to the oracle's relational replay. */
  val qStoreEqdelete: Q = (s, dir) => {
    import s.implicits._
    val root = Util.managedTempDir("graft_eqdel_")
    val t = s"$root/t"
    table(s, dir, "orders")
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
      .filter($"o_orderkey" % 3 === 0)
      .repartition(4)
      .write.format("graft.sources.GraftStore").option("path", t)
      .mode("overwrite").save()
    // pure key-set delete: every key ≡ 0 (mod 7) — no data file read
    graft.sources.GraftStore.deleteByKey(s, t,
      table(s, dir, "orders")
        .filter($"o_orderkey" % 3 === 0 && $"o_orderkey" % 7 === 0)
        .select($"o_orderkey"))
    // CDC upsert: one commit re-keys the % 5 slice (custkey bumped to
    // mark the new versions); keys that are BOTH % 7 and % 5 were just
    // eq-deleted and come back — the addedv exemption in action
    val vUp = graft.sources.GraftStore.upsertByKey(s, t, Seq("o_orderkey"),
      table(s, dir, "orders")
        .filter($"o_orderkey" % 3 === 0 && $"o_orderkey" % 5 === 0)
        .select($"o_orderkey", ($"o_custkey" + 1000000L).as("o_custkey"),
          $"o_totalprice"))
    graft.sources.GraftStore.purgeDeletes(s, t)
    def agg(tag: String, versionAsOf: Option[Long]) = {
      val r = s.read.format("graft.sources.GraftStore").option("path", t)
      versionAsOf.foreach(v => r.option("versionAsOf", v.toString))
      r.load()
        .groupBy(($"o_orderkey" % 10).as("bucket"))
        .agg(count(lit(1)).as("n_rows"), sum($"o_custkey").as("sum_cust"),
          dsum($"o_totalprice").as("sum_price"))
        .select(lit(tag).as("side"), $"bucket", $"n_rows", $"sum_cust",
          $"sum_price")
    }
    // the eq side time-travels to the PRE-purge snapshot (rows hidden by
    // per-row sidecar probes); the purged side reads the folded files
    agg("eq", Some(vUp)).unionAll(agg("purged", None))
      .orderBy($"side", $"bucket")
  }

  /** DATE / TIMESTAMP EQUALITY-DELETE KEYS (round 13) — the CDC key
    * shape real feeds carry: `(id, event_date)` composites and raw
    * event timestamps. Dates ride the sidecar as their day count and
    * timestamps as their micros — the same physical lane the reader's
    * UnsafeRow probe reads — so the canonical-string codec extends with
    * zero new probe cost and the per-JVM sidecar cache is unchanged.
    * The lifecycle exercises all three temporal key forms against the
    * `events` table: a (user_id, event_date) composite delete (date in
    * a multi-column tuple), a timestamp-only delete, and a CDC upsert
    * keyed (event_id, ts) whose appended rows are exempt from their own
    * delete (`addedv < seq`). Scale shape identical to q_store_eqdelete:
    * delete cost ∝ key batch, zero data-file reads at delete time. */
  val qStoreEqdeleteTs: Q = (s, dir) => {
    import s.implicits._
    val root = Util.managedTempDir("graft_eqts_")
    val t = s"$root/t"
    val ev = table(s, dir, "events")
      .select($"event_id", $"user_id", to_date($"ts").as("event_date"),
        $"ts", $"value")
    ev.filter($"event_id" % 2 === 0)
      .repartition(4)
      .write.format("graft.sources.GraftStore").option("path", t)
      .mode("overwrite").save()
    // composite (long, DATE) key delete — every (user, day) pair that
    // produced a % 10 event loses ALL its rows for that day
    graft.sources.GraftStore.deleteByKey(s, t,
      table(s, dir, "events").filter($"event_id" % 10 === 0)
        .select($"user_id", to_date($"ts").as("event_date")))
    // TIMESTAMP-only key delete (micros lane)
    graft.sources.GraftStore.deleteByKey(s, t,
      table(s, dir, "events").filter($"event_id" % 14 === 0)
        .select($"ts"))
    // CDC upsert keyed (long, TIMESTAMP): re-keys the % 8 slice with a
    // marker user shift; rows just deleted above come back — revival
    graft.sources.GraftStore.upsertByKey(s, t, Seq("event_id", "ts"),
      ev.filter($"event_id" % 8 === 0)
        .select($"event_id", ($"user_id" + 5000L).as("user_id"),
          $"event_date", $"ts", $"value"))
    s.read.format("graft.sources.GraftStore").option("path", t).load()
      .groupBy(($"user_id" % 10).as("bucket"))
      .agg(count(lit(1)).as("n_rows"), sum($"event_id").as("sum_ev"),
        max($"event_date").as("max_date"), max($"ts").as("max_ts"),
        dsum($"value").as("sum_value"))
      .orderBy($"bucket")
  }

  /** EQUALITY-DELETE CHANGE FEED (round 12) — the changelog read of an
    * upsert table, upgrading what was a refusal into an answer: an
    * eq-delete commit mutates content with NO file-entry diff, so the
    * feed's planner emits OLD-IMAGE delete units for it — for every
    * carried file the new key sets apply to (`addedv < seq`), the rows
    * matching the sidecars, minus rows already dead (current DV +
    * pre-commit deletes; symmetric with how `applyDv` masks pre-range
    * position deletes). Upsert appends ride the ordinary insert units.
    * This is the Iceberg changelog-scan semantics, and the honest
    * economics of equality deletes made visible: the write side paid
    * ∝ batch; the CHANGE READER pays the deferred keyed scan — I/O ∝
    * files the delete applies to — exactly where the old images are
    * actually demanded. A downstream CDC consumer (the Flink mirror
    * shape) gets complete retract+upsert semantics: every key's old
    * image precedes its new version, batch boundaries preserved in
    * `_commit_version`. */
  val qStoreEqdeleteCdf: Q = (s, dir) => {
    import s.implicits._
    val root = Util.managedTempDir("graft_eqcdf_")
    val t = s"$root/t"
    table(s, dir, "orders")
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
      .filter($"o_orderkey" % 3 === 0)
      .repartition(4)
      .write.format("graft.sources.GraftStore").option("path", t)
      .mode("overwrite").save() // v1
    graft.sources.GraftStore.deleteByKey(s, t, // v2
      table(s, dir, "orders")
        .filter($"o_orderkey" % 3 === 0 && $"o_orderkey" % 7 === 0)
        .select($"o_orderkey"))
    val vUp = graft.sources.GraftStore.upsertByKey(s, t, Seq("o_orderkey"), // v3
      table(s, dir, "orders")
        .filter($"o_orderkey" % 3 === 0 && $"o_orderkey" % 5 === 0)
        .select($"o_orderkey", ($"o_custkey" + 1000000L).as("o_custkey"),
          $"o_totalprice"))
    s.read.format("graft.sources.GraftStore").option("path", t)
      .option("changesFrom", "1").option("changesTo", vUp.toString).load()
      .groupBy($"_change_type".as("change_type"),
        $"_commit_version".as("commit_version"))
      .agg(count(lit(1)).as("n_rows"), sum($"o_orderkey").as("sum_key"),
        sum($"o_custkey").as("sum_cust"), dsum($"o_totalprice").as("sum_price"))
      .orderBy($"change_type", $"commit_version")
  }

  /** `$deletes` METADATA TABLE (round 12) — the purge-scheduling
    * dashboard: one row per live delete, both flavors — position
    * vectors (n = masked rows) and equality deletes (n = key tuples).
    * "How much read-side delete debt has this table accumulated, and
    * is it time for CALL purge_deletes?" answered from manifest +
    * sidecar headers alone: zero data I/O, the Iceberg
    * metadata-table economics. File names and per-sidecar splits are
    * write-parallelism artifacts, so the query emits only the
    * content-determined aggregate per kind. */
  val qStoreDeletesMeta: Q = (s, dir) => {
    import s.implicits._
    val s2 = s.newSession()
    val root = Util.managedTempDir("graft_delmeta_")
    s2.conf.set("spark.sql.catalog.graftdm", "graft.sources.GraftCatalog")
    s2.conf.set("spark.sql.catalog.graftdm.root", root)
    s2.conf.set("spark.sql.optimizer.runtime.rowLevelOperationGroupFilter.enabled",
      "false")
    table(s2, dir, "orders").createOrReplaceTempView("ord_dm")
    s2.sql(
      """CREATE TABLE graftdm.dt
        |TBLPROPERTIES('write.mode'='merge-on-read') AS
        |SELECT o_orderkey, o_custkey FROM ord_dm
        |WHERE o_orderkey % 3 = 0""".stripMargin)
    s2.sql("DELETE FROM graftdm.dt WHERE o_orderkey % 7 = 0") // DVs
    graft.sources.GraftStore.deleteByKey(s2, s"$root/dt",
      table(s2, dir, "orders")
        .filter($"o_orderkey" % 3 === 0 && $"o_orderkey" % 11 === 0)
        .select($"o_orderkey")) // equality
    s2.sql(
      """SELECT kind, CAST(sum(n) AS BIGINT) AS n
        |FROM graftdm.`dt$deletes` GROUP BY kind ORDER BY kind""".stripMargin)
  }

  /** STREAMING CDC APPLY VIA EQUALITY DELETES (round 12) — the third
    * sibling of q_stream_upsert (copy-on-write MERGE) and
    * q_stream_upsert_mor (position-vector MOR MERGE): each micro-batch
    * applies through [[graft.sources.GraftStore.upsertByKey]] — ONE
    * pure-append commit per epoch (batch rows + key sidecar), ZERO data
    * file reads in the apply loop. This is the Flink-on-Iceberg CDC
    * ingest shape: where even the MOR MERGE must SCAN the target to
    * locate matched positions every batch, the eq-delete apply's write
    * cost is ∝ batch alone, so at 100 TB a steady CDC feed deleting
    * 0.1% of keys per batch costs KBs where position vectors cost a
    * keyed scan and CoW costs a table rewrite. Last-writer-wins per key
    * replaces the MERGE guard — sound here because micro-batches
    * deliver each key's versions in id order (the CDC-log contract).
    * Oracle: identical to q_stream_upsert — hash-equal results prove
    * all three write paths implement one streaming-upsert semantics. */
  val qStreamUpsertEq: Q = (s, dir) => {
    import s.implicits._
    val (s2, t) = upsertEqSession.computeIfAbsent(s"${Util.sessionKey(s)}:$dir", _ => {
      val sx = s.newSession()
      val root = Util.managedTempDir("graft_upserteq_")
      batchSized(sx)
      val path = s"$root/t"
      // seed the empty table (schema-only v1) the first apply commits onto
      sx.createDataFrame(sx.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("id",
            org.apache.spark.sql.types.LongType))))
        .write.format("graft.sources.GraftStore").option("path", path)
        .mode("overwrite").save()
      (sx, path)
    })
    val q = s2.readStream.format("graft.sources.SynthSource")
      .option("rows", "20000").option("slices", "4")
      .option("microBatchRows", "4096")
      .load()
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        // persist the pre-aggregated upsert set (round 20): upsertByKey
        // consumes it twice — the key-sidecar job and the data write,
        // which since r20 run concurrently — and without materialization
        // each re-runs the batch aggregation (the q_stream_upsert
        // precedent comment, applied to the eq-delete sibling)
        val up = batch.groupBy(($"id" % 1000).as("k"))
          .agg(max($"id").as("id")).persist()
        try graft.sources.GraftStore.upsertByKey(
          up.sparkSession, t, Seq("k"), up)
        finally { up.unpersist(blocking = false); () }
        ()
      }
      .option("checkpointLocation", Util.managedTempDir("graft_upserteq_ckpt_"))
      .start()
    try q.processAllAvailable() finally q.stop()
    s2.read.format("graft.sources.GraftStore").option("path", t).load()
      .select($"k", $"id").orderBy($"k")
  }

  /** Configured eq-upsert sessions, keyed by (parent session UUID, dir). */
  private val upsertEqSession = new java.util.concurrent.ConcurrentHashMap[
    String, (org.apache.spark.sql.SparkSession, String)]

  /** CDC MIRROR OVER THE EQUALITY-DELETE CHANGE FEED (round 12) — the
    * end-to-end proof that the changelog is a COMPLETE retract+upsert
    * feed: a downstream table maintained purely from the upstream's
    * change stream must converge to the upstream's content. The
    * upstream is a CDC-shaped history (seed → upsert → key delete →
    * upsert-with-revival, all through the pure-append eq-delete write
    * path); the measured operator is the streaming changelog read plus
    * the mirror apply loop — per version inside each micro-batch (a
    * batch may span commits), retract the delete rows' keys, then apply
    * the insert rows, each through the same keyed write primitives. At
    * 100 TB this is the cross-region replica / downstream-index shape:
    * the mirror pays I/O ∝ changes, never a source rescan, and
    * batch-boundary independence means a lagging mirror catches up
    * through exactly the same code path. Oracle: the mirror's final
    * aggregate must hash-equal the source's — emitted as two tagged
    * sides of one result. */
  val qStreamMirrorEq: Q = (s, dir) => {
    val s2 = s.newSession()
    import s2.implicits._
    s2.conf.set("spark.sql.shuffle.partitions", "4")
    val root = mirrorEqWritten.computeIfAbsent(s"${Util.sessionKey(s)}:$dir", _ => {
      val r = Util.managedTempDir("graft_mirror_")
      val src = s"$r/src"
      def base = s2.range(0, 1000, 1, 4).selectExpr("id AS k", "id AS v")
      base.write.format("graft.sources.GraftStore")
        .option("path", src).mode("overwrite").save()
      graft.sources.GraftStore.upsertByKey(s2, src, Seq("k"),
        base.filter($"k" % 3 === 0).selectExpr("k", "k + 100000 AS v"))
      graft.sources.GraftStore.deleteByKey(s2, src,
        base.filter($"k" % 5 === 0).select($"k"))
      graft.sources.GraftStore.upsertByKey(s2, src, Seq("k"),
        base.filter($"k" % 7 === 0).selectExpr("k", "k + 200000 AS v"))
      r
    })
    val mirror = s"${Util.managedTempDir("graft_mirror_out_")}/m"
    s2.range(0, 0).selectExpr("id AS k", "id AS v")
      .write.format("graft.sources.GraftStore")
      .option("path", mirror).mode("overwrite").save()
    val q = s2.readStream.format("graft.sources.GraftStore")
      .option("path", s"$root/src").option("changesFrom", "0").load()
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        // coalesce before persisting: the changes scan surfaces one
        // partition per CDF file-diff unit, and every per-version
        // filter/apply job below relaunches over ALL cached partitions —
        // a batch-sized apply loop pays ~10x the task launches for no
        // parallelism it can use (r20 stage audit: 359 tasks/invocation,
        // most under 4096 rows). Bound by the session's shuffle
        // partitioning (4 here — the batch-sized dial this session
        // already sets; cluster-sized via the same conf in production).
        // Narrow dependency, set semantics downstream: results identical.
        val b = batch.coalesce(
          batch.sparkSession.sessionState.conf.numShufflePartitions).persist()
        try {
          // a micro-batch may span several commits: apply in version
          // order — retract the old images, then apply the new rows.
          // ONE aggregate over the cached batch yields the (version,
          // change_type) row counts (metadata-sized: ≤ 2·commits per
          // batch), so insert-only versions — the common append shape —
          // never launch a no-op distributed delete job
          val slices = b.groupBy($"_commit_version", $"_change_type")
            .count().collect()
            .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
          val vs = slices.keys.map(_._1).toSeq.distinct.sorted
          vs.foreach { v =>
            val atV = b.filter($"_commit_version" === v)
            if (slices.getOrElse((v, "delete"), 0L) > 0)
              graft.sources.GraftStore.deleteByKey(b.sparkSession, mirror,
                atV.filter($"_change_type" === "delete").select($"k"))
            if (slices.getOrElse((v, "insert"), 0L) > 0)
              graft.sources.GraftStore.upsertByKey(b.sparkSession, mirror,
                Seq("k"),
                atV.filter($"_change_type" === "insert").select($"k", $"v"))
          }
        } finally { b.unpersist(blocking = false); () }
        ()
      }
      .option("checkpointLocation", Util.managedTempDir("graft_mirror_ckpt_"))
      .start()
    try q.processAllAvailable() finally q.stop()
    def agg(tag: String, path: String) =
      s2.read.format("graft.sources.GraftStore").option("path", path).load()
        .groupBy(($"k" % 10).as("bucket"))
        .agg(count(lit(1)).as("n_rows"), sum($"v").as("sum_v"))
        .select(lit(tag).as("side"), $"bucket", $"n_rows", $"sum_v")
    agg("mirror", mirror).unionAll(agg("source", s"$root/src"))
      .orderBy($"side", $"bucket")
  }

  /** Mirror-source CDC fixture roots, keyed by (session UUID, dir). */
  private val mirrorEqWritten = new java.util.concurrent.ConcurrentHashMap[
    String, String]

  /** Skipping-table dirs already written this JVM, keyed by (session, dir). */
  private val skipWritten = new java.util.concurrent.ConcurrentHashMap[String, String]

  /** Manifest-statistics FILE SKIPPING (round 7): the GraftStore writer
    * records per-file min/max/null-count for every numeric column in the
    * manifest, and the scan's SupportsPushDownFilters copy of the query's
    * predicates disproves whole files at PLANNING time — no data I/O, the
    * Iceberg scan-planning story in miniature. The write
    * `repartitionByRange`s on the filter column first, so the 8 data
    * files carry disjoint o_orderkey ranges and the `<=` predicate
    * selects 1 of them (pinned live in GraftStoreSpec via the scan
    * description and the planned-partition count). Filters stay RESIDUAL
    * — Spark still evaluates them row-by-row inside the surviving files,
    * exactly parquet's min/max semantics. At 100 TB this is the
    * difference between listing+reading a million files and opening the
    * handful the manifest cannot disprove. */
  val qSrcSkipping: Q = (s, dir) => {
    import s.implicits._
    val path = skipWritten.computeIfAbsent(s"${Util.sessionKey(s)}:$dir", _ => {
      val d = Util.managedTempDir("graft_skip_")
      table(s, dir, "orders")
        .select($"o_orderkey", $"o_custkey", $"o_totalprice")
        .repartitionByRange(8, $"o_orderkey")
        .write.format("graft.sources.GraftStore")
        .option("path", d).mode("overwrite").save()
      d
    })
    s.read.format("graft.sources.GraftStore").option("path", path).load()
      .filter($"o_orderkey" <= 6000)
      .groupBy(($"o_orderkey" % 10).as("k"))
      .agg(count(lit(1)).as("n"), dsum($"o_totalprice").as("sum_price"))
      .orderBy($"k")
  }

  /** Metadata-only DELETE (round 7): batch-aligned ingest (one append per
    * priority class — each commit's files are single-valued on `pri`,
    * min==max in the manifest stats) followed by
    * `DELETE FROM graft.dtab WHERE pri = 2`, which the connector decides
    * ENTIRELY from manifest stats: batch-2 files provably all-match and
    * are dropped in one atomic manifest swap; every other file provably
    * none-matches and is untouched. No data file is read or written — the
    * Iceberg partition-grained delete economics, and the everyday
    * pipeline shape (drop the bad ingest day). A predicate that would
    * SPLIT a file is refused up front (canDeleteWhere false, pinned in
    * GraftStoreSpec) — never a silent partial delete. Fresh table per
    * invocation: DELETE mutates, memoizing would leak state across runs.
    * Oracle recomputes from the source parquet with the complement
    * predicate. */
  val qEtlDelete: Q = (s, dir) => {
    val s2 = s.newSession()
    val root = Util.managedTempDir("graft_del_")
    s2.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    s2.conf.set("spark.sql.catalog.graft.root", root)
    import s2.implicits._
    val o = table(s2, dir, "orders")
      .select($"o_orderkey", $"o_totalprice",
        substring($"o_orderpriority", 1, 1).cast("int").as("pri"))
    (1 to 5).foreach { v =>
      o.filter($"pri" === v).repartition(2)
        .write.format("graft.sources.GraftStore")
        .option("path", s"$root/dtab").mode("append").save()
    }
    s2.sql("DELETE FROM graft.dtab WHERE pri = 2")
    s2.sql(
      """SELECT pri, count(*) AS n,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM graft.dtab GROUP BY pri ORDER BY pri""".stripMargin)
  }

  /** SQL-DDL catalog surface (round 7): graft.sources.GraftCatalog makes
    * the GraftStore connector a full catalog citizen — this query drives
    * the whole lifecycle with NOTHING but SQL: DROP IF EXISTS → CTAS
    * (create-table-as-select plans catalog.createTable + the connector's
    * manifest-commit write) → INSERT INTO (append = manifest grows) →
    * SELECT back through the catalog's loadTable. The storage IS the
    * metadata (schema line in the manifest, no metastore), the
    * Iceberg/Delta stance that keeps 100 TB table resolution free of a
    * central-metastore RPC per query. Oracle recomputes the union of the
    * two writes from the source parquet — the hash checks
    * create→insert→read fidelity end-to-end. Cloned session: catalog
    * registration is session conf (precedent: q_layout_compact). */
  val qCatalogSql: Q = (s, dir) => {
    val s2 = s.newSession()
    s2.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    s2.conf.set("spark.sql.catalog.graft.root", Util.managedTempDir("graft_catalog_"))
    table(s2, dir, "lineitem").createOrReplaceTempView("li")
    s2.sql("DROP TABLE IF EXISTS graft.flagship")
    s2.sql(
      """CREATE TABLE graft.flagship AS
        |SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        |FROM li WHERE l_returnflag = 'A' GROUP BY 1, 2""".stripMargin)
    s2.sql(
      """INSERT INTO graft.flagship
        |SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        |FROM li WHERE l_returnflag <> 'A' GROUP BY 1, 2""".stripMargin)
    s2.sql(
      """SELECT l_returnflag, l_linestatus, n_rows, sum_qty
        |FROM graft.flagship ORDER BY 1, 2""".stripMargin)
  }

  /** VIEW CATALOG (round 13) — `CREATE VIEW cat.v AS SELECT …` through
    * Spark 4's native ViewCatalog API on GraftCatalog: the view's SQL
    * text plus its capture-time catalog/namespace and declared schema
    * persist in a `_view` sidecar (atomic tmp+move, storage IS the
    * metadata, same stance as tables), and the analyzer re-resolves the
    * text at read time — so a view created over a store table tracks
    * every later commit with zero refresh cost, the complement of the
    * materialized-view family (q_store_mv pays storage for freshness
    * proofs; a view ships the QUERY to the data). The query proves the
    * lifecycle: CREATE TABLE → CREATE VIEW (aggregating) → INSERT more
    * rows into the base table → read the view (sees the new rows —
    * views are late-bound) → SHOW VIEWS/rename surfaces. Nested views
    * (a view over a view) resolve through the same path. */
  val qCatalogView: Q = (s, dir) => {
    // view DDL/resolution rides GraftExtensions' hint-batch rule, so
    // this query runs on the extension session (viewSessionOf); its
    // catalog root is pinned at session creation: CatalogManager caches
    // the initialized catalog instance, so later conf writes would not
    // re-root it — the DDL below is re-runnable instead (DROP IF EXISTS
    // + CREATE OR REPLACE), the idempotent-DDL shape real jobs use
    val s2 = viewSessionOf(s)
    table(s2, dir, "orders").createOrReplaceTempView("ord_v")
    s2.sql("DROP TABLE IF EXISTS gview.base")
    s2.sql(
      """CREATE TABLE gview.base AS
        |SELECT o_orderkey, o_custkey, o_orderpriority, o_totalprice
        |FROM ord_v WHERE o_orderkey % 2 = 0""".stripMargin)
    s2.sql("DROP VIEW IF EXISTS gview.big_pri")
    s2.sql(
      """CREATE OR REPLACE VIEW gview.by_pri AS
        |SELECT o_orderpriority AS pri, count(*) AS n_orders,
        |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM gview.base GROUP BY o_orderpriority""".stripMargin)
    // late binding: rows inserted AFTER the view was created are seen
    s2.sql(
      """INSERT INTO gview.base
        |SELECT o_orderkey, o_custkey, o_orderpriority, o_totalprice
        |FROM ord_v WHERE o_orderkey % 2 = 1""".stripMargin)
    // a view over the view resolves through the same catalog path
    s2.sql(
      """CREATE OR REPLACE VIEW gview.big_pri AS
        |SELECT pri, n_orders, sum_key, sum_price FROM gview.by_pri
        |WHERE n_orders > 0""".stripMargin)
    s2.sql("SELECT * FROM gview.big_pri ORDER BY pri")
  }

  /** ATOMIC RTAS (round 13) — `REPLACE TABLE … AS SELECT` through
    * Spark's StagingTableCatalog protocol on GraftCatalog: the SELECT
    * writes into a hidden scratch table and publishes in ONE atomic
    * step. The publish is deliberately NOT a directory swap — it
    * commits the scratch's (schema, files) as a NEW VERSION of the
    * existing lineage (op=replace, hard-linked files), so the replace
    * itself is in the history and TIME TRAVEL to pre-replace snapshots
    * keeps working: the nightly-rebuild pattern (replace a derived
    * table wholesale every run) without losing yesterday's answer or
    * ever exposing a dropped/half-written table. Without the staging
    * protocol Spark's fallback is drop-then-create-then-write — a crash
    * window every scheduled rebuild walks through. The query runs
    * CTAS → RTAS (different content AND schema) and reads both the
    * replaced table and the pre-replace snapshot as one tagged union. */
  val qCatalogRtas: Q = (s, dir) => {
    val s2 = s.newSession()
    s2.conf.set("spark.sql.catalog.grt", "graft.sources.GraftCatalog")
    s2.conf.set("spark.sql.catalog.grt.root", Util.managedTempDir("graft_rtas_"))
    table(s2, dir, "orders").createOrReplaceTempView("ord_rtas")
    s2.sql("DROP TABLE IF EXISTS grt.t")
    s2.sql(
      """CREATE TABLE grt.t AS
        |SELECT o_orderkey, o_totalprice FROM ord_rtas
        |WHERE o_orderkey % 4 = 0""".stripMargin)
    val preV = graft.sources.GraftStore.readVersion(
      s"${s2.conf.get("spark.sql.catalog.grt.root")}/t")
    s2.sql(
      """REPLACE TABLE grt.t AS
        |SELECT o_orderkey, o_custkey, o_totalprice * 2 AS doubled
        |FROM ord_rtas WHERE o_orderkey % 4 = 1""".stripMargin)
    s2.sql(
      s"""WITH post AS (
        |  SELECT o_orderkey % 10 AS bucket, count(*) AS n,
        |   CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
        |   CAST(sum(CAST(doubled AS DECIMAL(18,4))) AS DOUBLE) AS sum_val
        |  FROM grt.t GROUP BY 1),
        |pre AS (
        |  SELECT o_orderkey % 10 AS bucket, count(*) AS n,
        |   CAST(0 AS BIGINT) AS sum_cust,
        |   CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_val
        |  FROM grt.t VERSION AS OF $preV GROUP BY 1)
        |SELECT 'post' AS side, * FROM post
        |UNION ALL SELECT 'pre' AS side, * FROM pre
        |ORDER BY side, bucket""".stripMargin)
  }

  /** Extension sessions for the view query, keyed by parent session. */
  private val viewSession = new java.util.concurrent.ConcurrentHashMap[
    String, org.apache.spark.sql.SparkSession]

  /** A REAL GraftExtensions session on `s`'s context with catalog
    * `gview` — a plain newSession has no extension hook (memoized per
    * parent: session construction re-registers analyzer state, not
    * per-run work). */
  private def viewSessionOf(
      s: org.apache.spark.sql.SparkSession): org.apache.spark.sql.SparkSession =
    viewSession.computeIfAbsent(Util.sessionKey(s), _ => {
      val sess = org.apache.spark.sql.SparkSession.builder()
        .master(s.sparkContext.master)
        .withExtensions(new graft.GraftExtensions())
        .config("spark.sql.shuffle.partitions",
          s.conf.get("spark.sql.shuffle.partitions"))
        .config("spark.sql.session.timeZone", "UTC")
        .create()
      sess.conf.set("spark.sql.catalog.gview", "graft.sources.GraftCatalog")
      sess.conf.set("spark.sql.catalog.gview.root",
        Util.managedTempDir("graft_view_"))
      sess
    })

  /** table_changes fixture tables, keyed by extension-session UUID. */
  private val cdfSqlWritten = new java.util.concurrent.ConcurrentHashMap[String, String]

  /** `table_changes` TVF (round 15) — the change feed's PURE-SQL door
    * (the Delta `table_changes('t', from[, to])` surface): an analyzer
    * rule (GraftTableChangesRule, hint batch) rewrites the unresolved
    * TVF into the exact relation the `changesFrom`/`changesTo` reader
    * options build, so dashboards and SQL-only schedulers consume the
    * same cdfFileDiffs planning — one CDF implementation, two doors.
    * The fixture replays q_store_cdf's lifecycle (3 appends, a
    * metadata-only DELETE, a copy-on-write UPDATE, a silent OPTIMIZE)
    * in its own catalog and reads the feed entirely in SQL; the oracle
    * is the same content-determined union. Version-range and
    * current-catalog forms pinned in GraftCatalogSpec. */
  val qStoreCdfSql: Q = (s, dir) => {
    val s2 = viewSessionOf(s)
    cdfSqlWritten.computeIfAbsent(s"${Util.sessionKey(s2)}:$dir", _ => {
      val root = Util.managedTempDir("graft_cdfsql_")
      s2.conf.set("spark.sql.catalog.gcs", "graft.sources.GraftCatalog")
      s2.conf.set("spark.sql.catalog.gcs.root", root)
      import s2.implicits._
      val o = table(s2, dir, "orders")
        .select($"o_orderkey", $"o_totalprice",
          substring($"o_orderpriority", 1, 1).cast("int").as("pri"))
      (1 to 3).foreach { v =>
        o.filter($"pri" === v).repartition(2)
          .write.format("graft.sources.GraftStore")
          .option("path", s"$root/ctab").mode("append").save()
      }
      s2.sql("DELETE FROM gcs.ctab WHERE pri = 2") // v4: metadata-only
      s2.sql("UPDATE gcs.ctab SET o_totalprice = -o_totalprice WHERE pri = 3") // v5
      graft.sources.GraftStore.compact(s2, s"$root/ctab", 1L << 30) // v6: silent
      root
    })
    s2.sql(
      """SELECT _commit_version, _change_type, pri,
        |  count(*) AS n, CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM table_changes('gcs.ctab', 0)
        |GROUP BY _commit_version, _change_type, pri
        |ORDER BY _commit_version, _change_type, pri""".stripMargin)
  }

  /** `table_changes` with TIMESTAMP boundaries (round 16) — the Delta
    * from_ts/to_ts surface: string literals resolve through the same
    * `!ts=` commit index TIMESTAMP AS OF consults (from = earliest
    * snapshot at or after, to = latest at or before; both inclusive,
    * like the version form). The fixture reuses q_store_cdf_sql's
    * lifecycle table and brackets versions 4..5 (the metadata DELETE
    * and the copy-on-write UPDATE) by their own commit instants — the
    * wall clocks never reach the output, so the result is the
    * content-determined tail of the full feed. */
  val qStoreCdfSqlTs: Q = (s, dir) => {
    qStoreCdfSql(s, dir).count() // ensure fixture table + session exist
    val s2 = viewSessionOf(s)
    val root = cdfSqlWritten.get(s"${Util.sessionKey(s2)}:$dir")
    val commits = graft.sources.GraftStore.commitTimestamps(s"$root/ctab").toMap
    def utc(ms: Long): String = java.time.Instant.ofEpochMilli(ms)
      .atZone(java.time.ZoneOffset.UTC).toLocalDateTime
      .format(java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSS"))
    s2.sql(
      s"""SELECT _commit_version, _change_type, pri,
         |  count(*) AS n, CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
         |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
         |FROM table_changes('gcs.ctab', '${utc(commits(4L))}', '${utc(commits(5L))}')
         |GROUP BY _commit_version, _change_type, pri
         |ORDER BY _commit_version, _change_type, pri""".stripMargin)
  }

  /** STORED PROCEDURES (round 12) — Spark 4's native ProcedureCatalog:
    * `CALL cat.system.<proc>(…)` wired to the audited maintenance
    * primitives (purge_deletes / restore / compact / expire_snapshots),
    * the Iceberg `CALL` surface without any SQL-extension parser. The
    * query runs the operational lifecycle a 100 TB table lives by,
    * entirely in SQL: CTAS (merge-on-read) → DELETE (DV sidecars) →
    * `CALL purge_deletes` (fold vectors into clean files) →
    * `CALL restore` (roll back to the pre-delete snapshot as a new
    * commit) — reading the table between steps. Maintenance-as-SQL is
    * the difference between a scheduled query and a bespoke JVM
    * deployment for every housekeeping task. */
  val qCatalogProc: Q = (s, dir) => {
    import s.implicits._
    val s2 = s.newSession()
    val root = Util.managedTempDir("graft_proccat_")
    s2.conf.set("spark.sql.catalog.graftpr", "graft.sources.GraftCatalog")
    s2.conf.set("spark.sql.catalog.graftpr.root", root)
    s2.conf.set("spark.sql.optimizer.runtime.rowLevelOperationGroupFilter.enabled",
      "false")
    table(s2, dir, "orders").createOrReplaceTempView("ord_proc")
    s2.sql(
      """CREATE TABLE graftpr.pt
        |TBLPROPERTIES('write.mode'='merge-on-read') AS
        |SELECT o_orderkey, o_custkey, o_totalprice FROM ord_proc
        |WHERE o_orderkey % 3 = 0""".stripMargin)
    val vFull = graft.sources.GraftStore.readVersion(s"$root/pt")
    s2.sql("DELETE FROM graftpr.pt WHERE o_orderkey % 7 = 0") // DV sidecars
    // CALL is EAGER (the analyzer invokes the bound procedure): the
    // result row carries the committed version for chaining
    val vPurged = s2.sql("CALL graftpr.system.purge_deletes('pt')")
      .collect()(0).getLong(0)
    s2.sql(s"CALL graftpr.system.restore('pt', $vFull)")
    def agg(tag: String, asOf: String) =
      s2.sql(
        s"""SELECT '$tag' AS side, o_orderkey % 10 AS bucket,
           | count(*) AS n_rows, CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
           | CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
           |FROM graftpr.pt $asOf GROUP BY 2""".stripMargin)
    // the purged side time-travels to the folded snapshot; the restored
    // side reads the current (= pre-delete) state
    agg("purged", s"VERSION AS OF $vPurged").unionAll(agg("restored", ""))
      .orderBy($"side", $"bucket")
  }

  /** METADATA-ONLY aggregates (round 7): COUNT(*) / COUNT(col) /
    * MIN / MAX with no grouping and no filters never open a data file —
    * the scan builder answers them from manifest lines (rows and null
    * counts sum, per-file extremes fold) and plans ONE synthetic
    * partition carrying the answer row, claimed as COMPLETE pushdown
    * because it is exact. Iceberg's "count(*) costs one metadata read"
    * economics — at 100 TB the difference between a second and a
    * cluster-hour. The oracle recomputes the same aggregates from
    * source parquet; the zero-I/O claim is proven brutally in
    * GraftStoreSpec (data files deleted from disk, the aggregate still
    * answers) and the plan shape in PlanShapeSpec. */
  val qStoreMetaagg: Q = (s, dir) => {
    import s.implicits._
    val path = ttPath(s, dir)
    s.read.format("graft.sources.GraftStore").option("path", path).load()
      .agg(expr("count(*)").as("n_rows"),
        min($"o_orderkey").as("min_key"), max($"o_orderkey").as("max_key"),
        min($"o_custkey").as("min_cust"), max($"o_custkey").as("max_cust"))
  }

  /** Multi-column-partitioned fixture tables, keyed by (session UUID, dir). */
  private val partMultiWritten = new java.util.concurrent.ConcurrentHashMap[String, String]

  /** MULTI-COLUMN PARTITIONING (round 11) — `PARTITIONED BY (pri, rgn)`,
    * the two-level day×source layout every 100 TB table actually uses:
    * the write demands clustering + ordering on BOTH columns and rolls a
    * file at every (pri, rgn) change, so each manifest entry is
    * single-valued on each partition column. Everything downstream is
    * the existing stats machinery with no spec-awareness: a predicate on
    * EITHER column (or both) prunes files by min==max stats, dropping a
    * whole (pri, rgn) cell is a metadata-only DELETE, key-grouped
    * reporting keys on the leading column, and grouped metadata
    * aggregates on either column still answer from manifest lines. The
    * oracle recomputes the rgn-filtered per-pri aggregate from source
    * parquet — layout invisible to results. File-grain invariants pinned
    * in PartitionEvolutionSpec. */
  val qStorePartMulti: Q = (s, dir) => {
    import s.implicits._
    val path = partMultiWritten.computeIfAbsent(s"${Util.sessionKey(s)}:$dir", _ => {
      val s2 = s.newSession()
      val root = Util.managedTempDir("graft_pmulti_")
      s2.conf.set("spark.sql.catalog.graftpm", "graft.sources.GraftCatalog")
      s2.conf.set("spark.sql.catalog.graftpm.root", root)
      table(s2, dir, "orders").createOrReplaceTempView("ord_pm")
      s2.sql(
        """CREATE TABLE graftpm.t PARTITIONED BY (pri, rgn) AS
          |SELECT o_orderkey, o_totalprice,
          |  CAST(substring(o_orderpriority, 1, 1) AS INT) AS pri,
          |  o_orderkey % 4 AS rgn
          |FROM ord_pm""".stripMargin)
      s"$root/t"
    })
    s.read.format("graft.sources.GraftStore").option("path", path).load()
      .filter($"rgn" === 2)
      .groupBy($"pri")
      .agg(count(lit(1)).as("n_rows"), sum($"o_orderkey").as("sum_key"),
        dsum($"o_totalprice").as("sum_price"))
      .orderBy($"pri")
  }

  /** days(ts)-partitioned fixture tables, keyed by (session UUID, dir). */
  private val partDaysWritten = new java.util.concurrent.ConcurrentHashMap[String, String]

  /** HIDDEN PARTITIONING (round 11) — `PARTITIONED BY (days(ts))`, the
    * Iceberg transform-partitioning contract on the one layout every
    * 100 TB fact table uses: the table is partitioned by a DERIVED day
    * the user never sees or stores — the CTAS demands ordering on `ts`
    * (days() is monotone, so ts-ordered rows are day-contiguous) and
    * rolls a file at each day boundary, making every manifest entry
    * single-day with exact epoch-micros min/max stats. The query then
    * filters the RAW `ts` column — hidden partitioning's whole point:
    * no `WHERE day = ...` mistake to make, no derived column to
    * maintain — and whole files outside the week prune from manifest
    * micros bounds before any data I/O; dropping a retention day is a
    * metadata-only DELETE on the same proof. The ORDER BY upstream
    * range-partitions the write so the file count tracks the day count
    * (not days × tasks). File-grain/prune/delete/zero-I/O invariants
    * pinned in TransformPartitionSpec; oracle recomputes the week's
    * per-type aggregate from source parquet — layout invisible to
    * results. */
  val qStorePartDays: Q = (s, dir) => {
    import s.implicits._
    val path = partDaysWritten.computeIfAbsent(s"${Util.sessionKey(s)}:$dir", _ => {
      val s2 = s.newSession()
      val root = Util.managedTempDir("graft_pdays_")
      s2.conf.set("spark.sql.catalog.graftpd", "graft.sources.GraftCatalog")
      s2.conf.set("spark.sql.catalog.graftpd.root", root)
      table(s2, dir, "events").createOrReplaceTempView("ev_pd")
      s2.sql(
        """CREATE TABLE graftpd.e PARTITIONED BY (days(ts)) AS
          |SELECT event_id, ts, user_id, event_type, value
          |FROM ev_pd ORDER BY ts""".stripMargin)
      s"$root/e"
    })
    s.read.format("graft.sources.GraftStore").option("path", path).load()
      .filter($"ts" >= Util.ts("2024-01-08 00:00:00") &&
        $"ts" < Util.ts("2024-01-15 00:00:00"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_rows"),
        Util.dsum($"value").as("sum_value"),
        min($"ts").as("first_ts"), max($"ts").as("last_ts"))
      .orderBy($"event_type")
  }

  private val partCompositeWritten = new java.util.concurrent.ConcurrentHashMap[String, String]

  /** COMPOSITE PARTITION SPEC (round 15) — `PARTITIONED BY (days(ts),
    * event_type)`, the canonical two-term 100 TB layout (time × source):
    * a hidden temporal transform LEADING an identity term. What makes it
    * work is the write's ordering contract: the non-final temporal term
    * sorts by its DERIVED day index (resolved through the catalog's V2
    * `days` function — raw-ts ordering would interleave types within a
    * day and roll a file per flip), the identity term clusters, so each
    * task writes exactly one file per (day, type) cell, single-valued on
    * both by construction. Pruning composes per term — a `ts` range
    * drops days, a type equality drops that type's cells, together they
    * isolate single cells; `$partitions` renders the full tuple; spec
    * evolution adds/drops one term as a metadata-only commit. All pinned
    * in TransformPartitionSpec; the oracle recomputes the filtered
    * aggregate from source parquet — layout invisible to results. */
  val qStorePartComposite: Q = (s, dir) => {
    import s.implicits._
    val path = partCompositeWritten.computeIfAbsent(s"${Util.sessionKey(s)}:$dir", _ => {
      val s2 = s.newSession()
      val root = Util.managedTempDir("graft_pcomp_")
      s2.conf.set("spark.sql.catalog.graftpc", "graft.sources.GraftCatalog")
      s2.conf.set("spark.sql.catalog.graftpc.root", root)
      table(s2, dir, "events").createOrReplaceTempView("ev_pc")
      s2.sql(
        """CREATE TABLE graftpc.e PARTITIONED BY (days(ts), event_type) AS
          |SELECT event_id, ts, event_type, value FROM ev_pc""".stripMargin)
      s"$root/e"
    })
    s.read.format("graft.sources.GraftStore").option("path", path).load()
      .filter($"ts" >= Util.ts("2024-01-08 00:00:00") &&
        $"ts" < Util.ts("2024-01-15 00:00:00") &&
        $"event_type".isin("click", "view"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_rows"),
        Util.dsum($"value").as("sum_value"),
        min($"ts").as("first_ts"), max($"ts").as("last_ts"))
      .orderBy($"event_type")
  }

  private val partMonthsWritten = new java.util.concurrent.ConcurrentHashMap[String, String]

  /** MONTH-GRAIN HIDDEN PARTITIONING (round 12) — `PARTITIONED BY
    * (months(o_orderdate))` completes the temporal transform family at
    * the retention grain: months-since-epoch is monotone in the date
    * despite calendar-variable month lengths (the INDEX rolls files,
    * not the length), so the ~80-month orders history lands one file
    * per month and the quarter-range query every finance dashboard
    * issues prunes all other months from manifest epoch-day bounds.
    * Dropping a month past retention is a metadata-only DELETE on the
    * same entire-file proof — the month-partitioned shape is exactly
    * how 100 TB fact tables age out. Month-grain rolling, pruning and
    * `$partitions` calendar rendering pinned in TransformPartitionSpec. */
  val qStorePartMonths: Q = (s, dir) => {
    import s.implicits._
    val path = partMonthsWritten.computeIfAbsent(s"${Util.sessionKey(s)}:$dir", _ => {
      val s2 = s.newSession()
      val root = Util.managedTempDir("graft_pmos_")
      s2.conf.set("spark.sql.catalog.graftpmo", "graft.sources.GraftCatalog")
      s2.conf.set("spark.sql.catalog.graftpmo.root", root)
      table(s2, dir, "orders").createOrReplaceTempView("ord_pmo")
      s2.sql(
        """CREATE TABLE graftpmo.o PARTITIONED BY (months(o_orderdate)) AS
          |SELECT o_orderkey, o_orderdate, o_orderpriority, o_totalprice
          |FROM ord_pmo ORDER BY o_orderdate""".stripMargin)
      s"$root/o"
    })
    s.read.format("graft.sources.GraftStore").option("path", path).load()
      .filter($"o_orderdate" >= Util.ts("1996-01-01 00:00:00") &&
        $"o_orderdate" < Util.ts("1996-07-01 00:00:00"))
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_rows"),
        Util.dsum($"o_totalprice").as("sum_price"),
        min($"o_orderdate").as("first_d"), max($"o_orderdate").as("last_d"))
      .orderBy($"o_orderpriority")
  }

  private val partYearsWritten = new java.util.concurrent.ConcurrentHashMap[String, String]

  /** YEAR-GRAIN HIDDEN PARTITIONING (round 12) — `PARTITIONED BY
    * (years(o_orderdate))` is the coarsest member of the Iceberg
    * temporal family (years/months/days/hours), the archival-tier
    * grain: years-since-epoch is monotone in the date (leap years vary
    * a year's LENGTH, never the index order), so the 7-year orders
    * history lands one file per year, the two-year audit range prunes
    * every other year from manifest epoch-day bounds, and dropping a
    * year past legal retention is a metadata-only DELETE on the same
    * entire-file proof — the coldest tier of the hot/warm/cold layout
    * a 100 TB archive ages through. Year-grain rolling, pruning and
    * `$partitions` rendering pinned in TransformPartitionSpec. */
  val qStorePartYears: Q = (s, dir) => {
    import s.implicits._
    val path = partYearsWritten.computeIfAbsent(s"${Util.sessionKey(s)}:$dir", _ => {
      val s2 = s.newSession()
      val root = Util.managedTempDir("graft_pyrs_")
      s2.conf.set("spark.sql.catalog.graftpy", "graft.sources.GraftCatalog")
      s2.conf.set("spark.sql.catalog.graftpy.root", root)
      table(s2, dir, "orders").createOrReplaceTempView("ord_pyr")
      s2.sql(
        """CREATE TABLE graftpy.o PARTITIONED BY (years(o_orderdate)) AS
          |SELECT o_orderkey, o_orderdate, o_orderpriority, o_totalprice
          |FROM ord_pyr ORDER BY o_orderdate""".stripMargin)
      s"$root/o"
    })
    s.read.format("graft.sources.GraftStore").option("path", path).load()
      .filter($"o_orderdate" >= Util.ts("1995-01-01 00:00:00") &&
        $"o_orderdate" < Util.ts("1997-01-01 00:00:00"))
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_rows"),
        Util.dsum($"o_totalprice").as("sum_price"),
        min($"o_orderdate").as("first_d"), max($"o_orderdate").as("last_d"))
      .orderBy($"o_orderpriority")
  }

  private val partHoursWritten = new java.util.concurrent.ConcurrentHashMap[String, String]

  /** HOUR-GRAIN HIDDEN PARTITIONING (round 12) — `PARTITIONED BY
    * (hours(ts))` completes the temporal transform family next to days:
    * same monotone-transform rolling write (ts-ordered rows are
    * hour-contiguous), every manifest entry single-hour with exact
    * epoch-micros bounds, so the sub-day dashboard range every
    * operational 100 TB table is scanned with ("the last 6 hours")
    * prunes whole hour files from manifest lines before any data I/O —
    * at day grain the same query reads 24× the files. The query filters
    * the RAW `ts` (hidden partitioning: no derived hour column to
    * mistake), and dropping an hour of bad ingest is a metadata-only
    * DELETE on the same entire-file proof. Hour-grain file rolling,
    * pruning and the non-timestamp type refusal pinned in
    * TransformPartitionSpec. */
  val qStorePartHours: Q = (s, dir) => {
    import s.implicits._
    val path = partHoursWritten.computeIfAbsent(s"${Util.sessionKey(s)}:$dir", _ => {
      val s2 = s.newSession()
      val root = Util.managedTempDir("graft_phrs_")
      s2.conf.set("spark.sql.catalog.graftph", "graft.sources.GraftCatalog")
      s2.conf.set("spark.sql.catalog.graftph.root", root)
      table(s2, dir, "events").createOrReplaceTempView("ev_ph")
      // one day of events at hour grain keeps the file count honest
      // (24 files, not days×24)
      s2.sql(
        """CREATE TABLE graftph.e PARTITIONED BY (hours(ts)) AS
          |SELECT event_id, ts, user_id, event_type, value
          |FROM ev_ph
          |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
          |  AND ts < TIMESTAMP '2024-01-11 00:00:00'
          |ORDER BY ts""".stripMargin)
      s"$root/e"
    })
    s.read.format("graft.sources.GraftStore").option("path", path).load()
      .filter($"ts" >= Util.ts("2024-01-10 06:00:00") &&
        $"ts" < Util.ts("2024-01-10 12:00:00"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_rows"),
        Util.dsum($"value").as("sum_value"),
        min($"ts").as("first_ts"), max($"ts").as("last_ts"))
      .orderBy($"event_type")
  }

  /** bucket(n,k)-partitioned fixture tables, keyed by (session UUID, dir). */
  private val partBucketWritten = new java.util.concurrent.ConcurrentHashMap[String, String]

  /** BUCKET PARTITIONING (round 11) — `PARTITIONED BY (bucket(16,
    * o_orderkey))`, the layout point-lookup-heavy 100 TB tables use
    * when no natural range key exists: the catalog's V2 `bucket`
    * function (GraftFunctions.scala — the Iceberg SparkFunctions
    * pattern) resolves the write's clustered distribution into an
    * evaluable derived-key exchange, so exactly one task owns each
    * bucket and writes exactly one single-bucket file, its bucket id
    * recorded as a pseudo-column manifest stat (no source min/max range
    * could prove hash membership). The query is the bucketed table's
    * reason to exist: `k = v` / `k IN (...)` hashes its literals at
    * planning time and reads ONLY the matching buckets' files —
    * files=3/16 in the plan, the n-fold I/O cut a point lookup gets
    * without any range clustering. Single-bucket grain, 1/16 lookup
    * prune, IN-list prune, compaction degradation pinned in
    * TransformPartitionSpec; oracle recomputes the lookup from source
    * parquet. */
  val qStorePartBucket: Q = (s, dir) => {
    import s.implicits._
    val path = partBucketWritten.computeIfAbsent(s"${Util.sessionKey(s)}:$dir", _ => {
      val s2 = s.newSession()
      val root = Util.managedTempDir("graft_pbkt_")
      s2.conf.set("spark.sql.catalog.graftpb", "graft.sources.GraftCatalog")
      s2.conf.set("spark.sql.catalog.graftpb.root", root)
      table(s2, dir, "orders").createOrReplaceTempView("ord_pb")
      s2.sql(
        """CREATE TABLE graftpb.t PARTITIONED BY (bucket(16, o_orderkey)) AS
          |SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
          |FROM ord_pb""".stripMargin)
      s"$root/t"
    })
    s.read.format("graft.sources.GraftStore").option("path", path).load()
      .filter($"o_orderkey".isin(7L, 4000L, 29989L, 100003L, 599936L))
      .select($"o_orderkey", $"o_custkey",
        Util.dec($"o_totalprice").cast("double").as("price"),
        $"o_orderpriority")
      .orderBy($"o_orderkey")
  }

  /** Bucket-SPJ table-pair roots already written this JVM. */
  private val spjBucketWritten = new java.util.concurrent.ConcurrentHashMap[String, String]

  /** BUCKET STORAGE-PARTITIONED JOIN (round 11) — q_store_spj's
    * no-shuffle proof on a SYNTHETIC key: orders and a per-customer
    * rollup both land `PARTITIONED BY (bucket(16, o_custkey))` — there
    * is no natural range/identity key to co-partition on, which is
    * exactly when production fact tables reach for bucketing — and the
    * scans report KeyGroupedPartitioning over the bucket TRANSFORM,
    * resolved through the catalog's V2 `bucket` function and matched
    * across sides by canonical name. The join plans with NO exchange on
    * either side (pinned in PlanShapeSpec): 16 co-located cells stream
    * through the join while the hash-repartition of BOTH inputs — the
    * term that dominates a 100 TB join — never happens; the write paid
    * it once, every later join of any two tables sharing the layout
    * rides free. Reads go through the catalog (the relation's
    * FunctionCatalog is what resolves the transform — a path read would
    * silently fall back to a shuffled plan, never a wrong one). Oracle
    * replays the join from source parquet. */
  val qStoreSpjBucket: Q = (s, dir) => {
    val s2 = s.newSession()
    s2.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val root = spjBucketWritten.computeIfAbsent(s"${Util.sessionKey(s)}:$dir", _ => {
      val r = Util.managedTempDir("graft_bspj_")
      val sc = s.newSession()
      sc.conf.set("spark.sql.catalog.gbspj", "graft.sources.GraftCatalog")
      sc.conf.set("spark.sql.catalog.gbspj.root", r)
      table(sc, dir, "orders").createOrReplaceTempView("bspj_orders")
      sc.sql(
        """CREATE TABLE gbspj.o PARTITIONED BY (bucket(16, o_custkey)) AS
          |SELECT o_orderkey, o_custkey, o_totalprice FROM bspj_orders""".stripMargin)
      sc.sql(
        """CREATE TABLE gbspj.c PARTITIONED BY (bucket(16, o_custkey)) AS
          |SELECT o_custkey, count(*) AS n_orders FROM bspj_orders
          |GROUP BY o_custkey""".stripMargin)
      r
    })
    s2.conf.set("spark.sql.catalog.gbspj", "graft.sources.GraftCatalog")
    s2.conf.set("spark.sql.catalog.gbspj.root", root)
    s2.sql(
      """SELECT o.o_custkey % 8 AS cust_band, count(*) AS n_pairs,
        |  sum(c.n_orders) AS sum_cust_orders,
        |  CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM gbspj.o o JOIN gbspj.c c ON o.o_custkey = c.o_custkey
        |GROUP BY o.o_custkey % 8 ORDER BY cust_band""".stripMargin)
  }

  /** Grouped-metaagg fixture tables, keyed by (session UUID, fixture dir). */
  private val metaGroupWritten = new java.util.concurrent.ConcurrentHashMap[String, String]

  /** GROUPED metadata-only aggregates (round 11) — q_store_metaagg's
    * missing half: `GROUP BY pri` over a table whose write layout makes
    * every file single-valued on `pri` (PARTITIONED BY rolling) is
    * answered ENTIRELY from manifest lines — each group's rows are a
    * disjoint subset of whole files, so per-group count/count(col)/
    * min/max folds are exact, and the scan plans ONE synthetic partition
    * carrying one row per group (complete pushdown: Spark plans no
    * aggregate at all). The Iceberg partition-stats economics: the
    * per-partition dashboard query every 100 TB table gets pointed at
    * ("rows and key ranges by day/segment/priority") costs one driver
    * metadata read instead of a cluster scan. Declines — and the
    * ordinary scan plans — whenever any file straddles group values
    * (plain appends), the key is a double (NaN equality buys nothing),
    * a filter is pushed, or any file carries a deletion vector.
    * Zero-data-I/O + decline-on-straddle pinned in GraftStoreSpec. */
  private def metaGroupPath(s: org.apache.spark.sql.SparkSession, dir: String): String =
    metaGroupWritten.computeIfAbsent(s"${Util.sessionKey(s)}:$dir", _ => {
      val s2 = s.newSession()
      val root = Util.managedTempDir("graft_magrp_")
      s2.conf.set("spark.sql.catalog.graftmg", "graft.sources.GraftCatalog")
      s2.conf.set("spark.sql.catalog.graftmg.root", root)
      table(s2, dir, "orders").createOrReplaceTempView("ord_mg")
      s2.sql(
        """CREATE TABLE graftmg.g PARTITIONED BY (pri) AS
          |SELECT o_orderkey, o_custkey,
          |  CAST(substring(o_orderpriority, 1, 1) AS INT) AS pri
          |FROM ord_mg""".stripMargin)
      s"$root/g"
    })

  val qStoreMetaaggGroup: Q = (s, dir) => {
    import s.implicits._
    val path = metaGroupPath(s, dir)
    s.read.format("graft.sources.GraftStore").option("path", path).load()
      .groupBy($"pri")
      .agg(count(lit(1)).as("n_rows"), count($"o_custkey").as("n_cust"),
        min($"o_orderkey").as("min_key"), max($"o_orderkey").as("max_key"),
        sum($"o_orderkey").as("sum_key"))
      .orderBy($"pri")
  }

  /** `$partitions` METADATA TABLE (round 12) — the per-partition-value
    * stats surface next to `$snapshots`/`$files` (Iceberg's partitions
    * table): one row per derived partition tuple of the current
    * manifest, with file and live row counts, each tuple RE-PROVEN from
    * per-file stats exactly like every other consumer of the spec
    * (files whose stats cannot pin a cell aggregate into one NULL
    * catch-all row — degraded honestly, never guessed). The operator
    * question every 100 TB table gets daily — "which partitions are
    * skewed / tiny / missing" — answered from one driver-side manifest
    * fold, zero data I/O. n_files and the catch-all degradation pinned
    * in GraftCatalogSpec; the oracle checks per-partition row counts
    * against source parquet. */
  val qStorePartitionsMeta: Q = (s, dir) => {
    val path = metaGroupPath(s, dir)
    val root = new java.io.File(path).getParent
    val s2 = s.newSession()
    s2.conf.set("spark.sql.catalog.gpmeta", "graft.sources.GraftCatalog")
    s2.conf.set("spark.sql.catalog.gpmeta.root", root)
    s2.sql("SELECT `partition`, n_rows FROM gpmeta.`g$partitions` ORDER BY `partition`")
  }

  /** FILTERED metadata-only aggregates (round 12) — the remaining gap in
    * the metadata-answer family: `COUNT/SUM/MIN/MAX WHERE pri = 2` on a
    * pri-partitioned table is as answerable as the unfiltered form,
    * because the rolling write makes every file single-valued on `pri`
    * and so every file DECIDES the predicate (AllRows or NoRows, never
    * straddling). The scan builder accepts such filters completely
    * (pinning the snapshot the decision was read from), which is what
    * lets Spark push the aggregate at all, and the answer folds over
    * exactly the AllRows files. The everyday 100 TB shape: "how many
    * rows landed for segment X" costs one manifest read, zero data I/O
    * (GraftStoreSpec deletes the data files and still answers). A
    * predicate any file straddles declines at acceptance time and the
    * ordinary scan + residual filter plans instead — conservative,
    * never wrong. */
  val qStoreMetaaggFiltered: Q = (s, dir) => {
    import s.implicits._
    val path = metaGroupPath(s, dir)
    s.read.format("graft.sources.GraftStore").option("path", path).load()
      .filter($"pri" === 2)
      .agg(count(lit(1)).as("n_rows"), count($"o_custkey").as("n_cust"),
        min($"o_orderkey").as("min_key"), max($"o_orderkey").as("max_key"),
        sum($"o_orderkey").as("sum_key"))
  }

  /** DML-query catalog roots, keyed by (session UUID, fixture dir, tag).
    * Only the ROOT directory is memoized — each invocation DROPs and
    * recreates its table, so a repeated run (bench min-of-2) is
    * deterministic. */
  private val dmlRoots = new java.util.concurrent.ConcurrentHashMap[String, String]
  private def dmlRoot(s: org.apache.spark.sql.SparkSession, dir: String,
      tag: String): String =
    dmlRoots.computeIfAbsent(s"${Util.sessionKey(s)}:$dir:$tag",
      _ => Util.managedTempDir(s"graft_$tag"))

  /** Sizes a derived session for BATCH-sized DML: each micro-batch or
    * one-batch MERGE/UPDATE covers a few thousand to ~50k rows, so
    * cluster-sized shuffle fan-out (32 partitions) and AQE's per-stage
    * replanning are pure per-commit overhead — the dial a real CDC-apply
    * or SCD2 job sets from its batch volume. Results are row-identical
    * (same commits, same history). */
  private def batchSized(
      s2: org.apache.spark.sql.SparkSession): org.apache.spark.sql.SparkSession = {
    s2.conf.set("spark.sql.shuffle.partitions", "4")
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    s2
  }

  /** A batch-sized session derived from `s` with store catalog `catalog`
    * rooted at the memoized `dmlRoot(s, dir, tag)`; `s` itself is never
    * touched. */
  private def dmlSession(s: org.apache.spark.sql.SparkSession, dir: String,
      catalog: String, tag: String): org.apache.spark.sql.SparkSession = {
    val s2 = s.newSession()
    s2.conf.set(s"spark.sql.catalog.$catalog", "graft.sources.GraftCatalog")
    s2.conf.set(s"spark.sql.catalog.$catalog.root", dmlRoot(s, dir, tag))
    batchSized(s2)
  }

  /** SCD TYPE-2 CDC APPLY (round 11) — the dimension-history maintenance
    * loop every warehouse runs nightly, on the lakehouse MERGE surface:
    * where q_stream_upsert keeps only the LATEST row per key (type 1),
    * SCD2 keeps every VERSION with validity metadata. Each batch applies
    * as two commits, both through the store's row-level machinery:
    *   (1) MERGE closes the current row of every key whose attribute
    *       actually changed (`ON t.k = s.k AND t.ver_to = 0` with a
    *       `t.price <> s.price` guard — unchanged deliveries are
    *       no-ops, the CDC idempotence property), stamping `ver_to`;
    *   (2) INSERT opens new versions for exactly the keys with no
    *       surviving current row (changed-just-closed ∪ brand-new) via
    *       an anti-join on the open set.
    * Write amplification is bounded by files containing CHANGED keys
    * (the group-based MERGE scans/rewrites only those), never by
    * history size — the property that keeps a 100 TB slowly-changing
    * dimension maintainable. `ver_to = 0` marks the open row (sentinel
    * instead of NULL so the validity interval is hash-comparable). The
    * oracle reconstructs the full (k, price, ver_from, ver_to) history
    * relationally from the two batch definitions — every row of every
    * version checked, not an aggregate. */
  val qStoreScd2: Q = (s, dir) => {
    val s2 = dmlSession(s, dir, "graftsd", "scd2_")
    table(s2, dir, "orders").createOrReplaceTempView("ord_scd")
    s2.sql("DROP TABLE IF EXISTS graftsd.d")
    s2.sql(
      """CREATE TABLE graftsd.d AS
        |SELECT CAST(0 AS BIGINT) AS k, CAST(0 AS DECIMAL(18,4)) AS price,
        |       CAST(0 AS BIGINT) AS ver_from, CAST(0 AS BIGINT) AS ver_to
        |WHERE 1 = 0""".stripMargin)
    // batch 1: the initial dimension load; batch 2: re-delivery of every
    // existing key (half changed: % 6 = 0 gets +100, half identical) plus
    // the % 3 = 1 keys as brand-new
    def batchSql(ver: Int): String =
      if (ver == 1)
        """SELECT o_orderkey AS k, CAST(o_totalprice AS DECIMAL(18,4)) AS price
          |FROM ord_scd WHERE o_orderkey % 3 = 0""".stripMargin
      else
        """SELECT o_orderkey AS k,
          |  CAST(o_totalprice AS DECIMAL(18,4)) +
          |    CASE WHEN o_orderkey % 6 = 0 THEN 100 ELSE 0 END AS price
          |FROM ord_scd WHERE o_orderkey % 3 = 0
          |UNION ALL
          |SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,4))
          |FROM ord_scd WHERE o_orderkey % 3 = 1""".stripMargin
    for (ver <- 1 to 2) {
      s2.sql(s"CREATE OR REPLACE TEMPORARY VIEW scd_batch AS ${batchSql(ver)}")
      s2.sql(
        s"""MERGE INTO graftsd.d t USING scd_batch s
           |ON t.k = s.k AND t.ver_to = 0
           |WHEN MATCHED AND t.price <> s.price THEN UPDATE SET ver_to = $ver
           |""".stripMargin)
      s2.sql(
        s"""INSERT INTO graftsd.d
           |SELECT s.k, s.price, $ver AS ver_from, CAST(0 AS BIGINT) AS ver_to
           |FROM scd_batch s
           |LEFT ANTI JOIN (SELECT k FROM graftsd.d WHERE ver_to = 0) c
           |  ON s.k = c.k""".stripMargin)
    }
    s2.sql(
      """SELECT k, CAST(price AS DOUBLE) AS price, ver_from, ver_to
        |FROM graftsd.d ORDER BY k, ver_from""".stripMargin)
  }

  /** MERGE-ON-READ MERGE (round 12) — q_store_merge's exact semantics
    * through the DELTA write path: the table carries
    * `write.mode=merge-on-read`, so the same three-arm MERGE writes
    * deletion-vector sidecars for its DELETE arm, delete+insert for its
    * UPDATE arm, and ordinary new files for its INSERT arm — matched
    * data files' bytes are never rewritten (mtime-proofed in
    * GraftStoreMorSpec), write amplification ∝ matched ROWS. The oracle
    * is the SAME relational replay as q_store_merge: a hash-equal
    * result proves the two write paths implement one MERGE semantics.
    * At 100 TB this is the difference between a CDC batch costing a few
    * MB of sidecars and costing a rewrite of every touched file. */
  val qStoreMergeMor: Q = (s, dir) => {
    val s2 = dmlSession(s, dir, "graftmr", "mor_")
    table(s2, dir, "orders").createOrReplaceTempView("ord_mor")
    s2.sql("DROP TABLE IF EXISTS graftmr.t")
    s2.sql(
      """CREATE TABLE graftmr.t
        |TBLPROPERTIES('write.mode'='merge-on-read') AS
        |SELECT o_orderkey, o_custkey FROM ord_mor WHERE o_orderkey % 7 = 0""".stripMargin)
    s2.sql(
      """MERGE INTO graftmr.t t
        |USING (SELECT o_orderkey, o_custkey FROM ord_mor
        |       WHERE o_orderkey % 7 = 1
        |          OR (o_orderkey % 7 = 0 AND o_orderkey % 2 = 0)) s
        |ON t.o_orderkey = s.o_orderkey
        |WHEN MATCHED AND s.o_orderkey % 3 = 0 THEN DELETE
        |WHEN MATCHED THEN UPDATE SET o_custkey = s.o_custkey + 1000000
        |WHEN NOT MATCHED THEN INSERT (o_orderkey, o_custkey)
        |  VALUES (s.o_orderkey, s.o_custkey)""".stripMargin)
    s2.sql(
      """SELECT o_orderkey % 10 AS bucket, count(*) AS n_rows,
        | CAST(sum(o_custkey) AS BIGINT) AS sum_cust, CAST(sum(o_orderkey) AS BIGINT) AS sum_key
        |FROM graftmr.t GROUP BY 1 ORDER BY 1""".stripMargin)
  }

  /** MERGE INTO (round 7) — the lakehouse upsert, run copy-on-write
    * through the connector's group-based row-level operation: Spark
    * rewrites the MERGE into a ReplaceData plan whose scan carries a
    * runtime group filter on the `_file` METADATA column (the matching
    * rows' files, computed as a subquery), so only files containing
    * matched keys are rewritten — unmatched files are preserved verbatim
    * by the manifest commit (`current - scanned + written`, one atomic
    * pointer swap, pre-merge snapshot still time-travelable). Exercises
    * all three action kinds: conditional DELETE, UPDATE, and INSERT.
    * The oracle replays the same merge semantics as joins over the
    * source parquet — the hash check proves matched/unmatched routing,
    * action conditions, and the copy-on-write commit end-to-end. At
    * 100 TB this is the CDC-ingest shape: write amplification bounded
    * by files actually containing matches, not table size. */
  val qStoreMerge: Q = (s, dir) => {
    val s2 = dmlSession(s, dir, "graftm", "merge_")
    table(s2, dir, "orders").createOrReplaceTempView("ord")
    s2.sql("DROP TABLE IF EXISTS graftm.t")
    s2.sql(
      """CREATE TABLE graftm.t AS
        |SELECT o_orderkey, o_custkey FROM ord WHERE o_orderkey % 7 = 0""".stripMargin)
    s2.sql(
      """MERGE INTO graftm.t t
        |USING (SELECT o_orderkey, o_custkey FROM ord
        |       WHERE o_orderkey % 7 = 1
        |          OR (o_orderkey % 7 = 0 AND o_orderkey % 2 = 0)) s
        |ON t.o_orderkey = s.o_orderkey
        |WHEN MATCHED AND s.o_orderkey % 3 = 0 THEN DELETE
        |WHEN MATCHED THEN UPDATE SET o_custkey = s.o_custkey + 1000000
        |WHEN NOT MATCHED THEN INSERT (o_orderkey, o_custkey)
        |  VALUES (s.o_orderkey, s.o_custkey)""".stripMargin)
    s2.sql(
      """SELECT o_orderkey % 10 AS bucket, count(*) AS n_rows,
        | CAST(sum(o_custkey) AS BIGINT) AS sum_cust, CAST(sum(o_orderkey) AS BIGINT) AS sum_key
        |FROM graftm.t GROUP BY 1 ORDER BY 1""".stripMargin)
  }

  /** MERGE WITH SCHEMA EVOLUTION (round 16) — the Delta auto-evolution
    * surface on Spark 4's native analyzer support: a MERGE whose source
    * carries a column the target lacks auto-ADDs it (the table
    * advertises AUTOMATIC_SCHEMA_EVOLUTION; Spark's
    * ResolveMergeIntoSchemaEvolution routes the missing columns through
    * the catalog's alterTable) — which lands on the existing
    * metadata-only evolve commit: no file rewrite, pre-evolve rows
    * null-pad the new column by arity at read. One statement, two
    * commits (evolve + merge), instead of the refusal that forced a
    * manual ALTER before every widened ingest. The source deliberately
    * skips some matched keys so the final table retains NULL-padded
    * pre-evolve rows next to merged ones — the oracle recomputes the
    * full three-way split (kept/updated/inserted) from source parquet.
    * MOR-path parity pinned in GraftStoreMorSpec. */
  val qStoreMergeEvolve: Q = (s, dir) => {
    val s2 = dmlSession(s, dir, "graftme", "mergeev_")
    table(s2, dir, "orders").createOrReplaceTempView("ord_ev")
    s2.sql("DROP TABLE IF EXISTS graftme.t")
    s2.sql(
      """CREATE TABLE graftme.t AS
        |SELECT o_orderkey, o_custkey FROM ord_ev WHERE o_orderkey % 5 = 0""".stripMargin)
    s2.sql(
      """MERGE WITH SCHEMA EVOLUTION INTO graftme.t t
        |USING (SELECT o_orderkey, o_custkey, o_totalprice AS price
        |       FROM ord_ev
        |       WHERE o_orderkey % 5 = 1
        |          OR (o_orderkey % 5 = 0 AND o_orderkey % 3 = 0)) s
        |ON t.o_orderkey = s.o_orderkey
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    s2.sql(
      """SELECT o_orderkey % 4 AS bucket, count(*) AS n_rows,
        | count(price) AS n_priced,
        | CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
        | CAST(sum(CAST(price AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM graftme.t GROUP BY 1 ORDER BY 1""".stripMargin)
  }

  /** MERGE with WHEN NOT MATCHED BY SOURCE (round 13) — the third arm
    * family that completes the Delta/Iceberg MERGE surface and enables
    * the SNAPSHOT-SYNC shape: "make the target identical to today's
    * extract" in ONE statement — matched rows update, new rows insert,
    * and rows the source no longer carries either age out (DELETE) or
    * get tombstone-marked (UPDATE), selected per-row by arm conditions.
    * Spark's RewriteMergeIntoTable plans the by-source arms from a FULL
    * OUTER join against the target's matched file GROUPS (same runtime
    * group-filter economics as every CoW row-level op: untouched files
    * never rewrite). Without this arm a sync needs a MERGE plus a
    * separate anti-join DELETE — two commits, a consistency window. */
  val qStoreMergeNbs: Q = (s, dir) => {
    val s2 = dmlSession(s, dir, "graftnb", "mergenbs_")
    table(s2, dir, "orders").createOrReplaceTempView("ord_nbs")
    s2.sql("DROP TABLE IF EXISTS graftnb.t")
    s2.sql(
      """CREATE TABLE graftnb.t AS
        |SELECT o_orderkey, o_custkey FROM ord_nbs WHERE o_orderkey % 3 = 0""".stripMargin)
    s2.sql(
      """MERGE INTO graftnb.t t
        |USING (SELECT o_orderkey, o_custkey + 777 AS o_custkey FROM ord_nbs
        |       WHERE o_orderkey % 4 = 0) s
        |ON t.o_orderkey = s.o_orderkey
        |WHEN MATCHED THEN UPDATE SET o_custkey = s.o_custkey + 500000
        |WHEN NOT MATCHED THEN INSERT (o_orderkey, o_custkey)
        |  VALUES (s.o_orderkey, s.o_custkey)
        |WHEN NOT MATCHED BY SOURCE AND o_orderkey % 5 = 0 THEN DELETE
        |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET o_custkey = -1""".stripMargin)
    s2.sql(
      """SELECT o_orderkey % 10 AS bucket, count(*) AS n_rows,
        | CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
        | CAST(sum(o_orderkey) AS BIGINT) AS sum_key
        |FROM graftnb.t GROUP BY 1 ORDER BY 1""".stripMargin)
  }

  /** Copy-on-write UPDATE + DELETE (round 7): predicates the manifest
    * stats CANNOT decide (`%` has no v1 filter translation), so the
    * metadata-only DELETE fast path refuses and Spark's row-level
    * rewrite rewrites exactly the affected files — the surviving rows
    * are recomputed row-by-row, files the runtime `_file` group filter
    * disproves are never rewritten. The DELETE runs on the UPDATEd
    * table, so the oracle chains both (update CASE, then delete WHERE)
    * over source parquet; matching hashes prove the two DMLs composed
    * correctly through two manifest commits. */
  val qStoreDml: Q = (s, dir) => {
    val s2 = dmlSession(s, dir, "graftu", "dml_")
    table(s2, dir, "orders").createOrReplaceTempView("ord")
    s2.sql("DROP TABLE IF EXISTS graftu.t")
    s2.sql(
      """CREATE TABLE graftu.t AS
        |SELECT o_orderkey, o_custkey, o_orderkey % 5 AS seg
        |FROM ord WHERE o_orderkey % 3 = 0""".stripMargin)
    s2.sql("UPDATE graftu.t SET o_custkey = o_custkey + 500000 WHERE o_orderkey % 10 = 3")
    s2.sql("DELETE FROM graftu.t WHERE o_custkey % 7 = 2")
    s2.sql(
      """SELECT seg, count(*) AS n_rows, CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
        | CAST(sum(o_orderkey) AS BIGINT) AS sum_key
        |FROM graftu.t GROUP BY 1 ORDER BY 1""".stripMargin)
  }

  /** Z-ordered table dirs already written this JVM, keyed by
    * (session UUID, fixture dir). */
  private val zorderWritten = new java.util.concurrent.ConcurrentHashMap[String, String]

  /** OPTIMIZE ZORDER on the connector (round 7) — the layout-maintenance
    * sibling of q_store_optimize's byte-concat: rewrite the whole table
    * range-partitioned + sorted on the Morton interleave of TWO columns
    * (the codegen'd MortonInterleave expression q_layout_zorder
    * introduced), so every data file's manifest entry gets a tight
    * min/max envelope in BOTH dimensions and file skipping prunes scans
    * filtered on EITHER — a hash or 1-d-sorted layout prunes only its
    * leading column, and the pre-rewrite layout here (row-hash
    * repartition) prunes nothing at all. The curve inputs are scaled
    * into the interleave's 16-bit lanes using the table's OWN manifest
    * maxes (a metadata-only aggregate — zero data I/O to plan the
    * rewrite). The rewrite commits through the ordinary write path with
    * `dataChange=false` (Delta's compaction-write flag): the commit
    * records `!op=optimize`, so the change feed stays silent and the
    * pre-rewrite snapshot stays time-travelable. The oracle recomputes
    * the two-dim-filtered aggregate from source parquet — clustering
    * must be invisible to results; the pruning evidence (files planned
    * before vs after, feed silence, maintenance op in history) is
    * pinned in GraftStoreSpec. At 100 TB this decides whether a
    * two-predicate lookup reads a handful of files or all of them. */
  val qStoreZorder: Q = (s, dir) => {
    import s.implicits._
    val path = zorderWritten.computeIfAbsent(s"${Util.sessionKey(s)}:$dir", _ => {
      val d = Util.managedTempDir("graft_zorder_")
      table(s, dir, "orders")
        .select($"o_orderkey", $"o_custkey", $"o_totalprice")
        .repartition(8) // row-hash layout: every file spans both key ranges
        .write.format("graft.sources.GraftStore").option("path", d)
        .mode("overwrite").save()
      val r = s.read.format("graft.sources.GraftStore").option("path", d)
        .load().agg(max($"o_custkey"), max($"o_orderkey")).head()
      val (mc, mk) = (r.getLong(0) + 1, r.getLong(1) + 1)
      graft.sources.GraftStore.rewriteClustered(s, d,
        Layout.morton(($"o_custkey" * 65536L / mc).cast("long"),
          ($"o_orderkey" * 65536L / mk).cast("long")),
        targetFiles = 16)
      d
    })
    s.read.format("graft.sources.GraftStore").option("path", path).load()
      .filter($"o_custkey" <= 300 && $"o_orderkey" <= 15000)
      .groupBy(($"o_orderkey" % 10).as("k"))
      .agg(count(lit(1)).as("n"), sum($"o_custkey").as("sum_cust"),
        dsum($"o_totalprice").as("sum_price"))
      .orderBy($"k")
  }

  /** OPTIMIZE ZORDER with a TIMESTAMP leading dimension (round 16) —
    * `CALL gzts.system.zorder('t', 'ts,user_id', 16)`, the canonical
    * time×key layout: the generalized N-dim procedure maps the
    * timestamp monotonically to epoch micros, scales both dimensions
    * into the Morton lattice from the table's own manifest min/max
    * (metadata-only planning), and rewrites so every file carries a
    * tight envelope in BOTH the time range and the key — a scan
    * filtered on EITHER prunes whole files where the pre-rewrite
    * row-hash layout prunes nothing (pruning pinned in
    * GraftProcedureSpec). The query reads a week×key slice back through
    * the clustered table; layout must be invisible to results. */
  private val zorderTsWritten = new java.util.concurrent.ConcurrentHashMap[String, String]
  val qStoreZorderTs: Q = (s, dir) => {
    import s.implicits._
    val root = zorderTsWritten.computeIfAbsent(s"${Util.sessionKey(s)}:$dir", _ => {
      val rt = Util.managedTempDir("graft_zorderts_")
      val sx = s.newSession()
      sx.conf.set("spark.sql.catalog.gzts", "graft.sources.GraftCatalog")
      sx.conf.set("spark.sql.catalog.gzts.root", rt)
      Util.events(sx, dir)
        .select($"event_id", $"ts", $"user_id", $"value")
        .repartition(8) // row-hash layout: every file spans both dims
        .write.format("graft.sources.GraftStore").option("path", s"$rt/t")
        .mode("overwrite").save()
      sx.sql("CALL gzts.system.zorder('t', 'ts,user_id', 16)").collect()
      rt
    })
    s.read.format("graft.sources.GraftStore").option("path", s"$root/t").load()
      .filter($"ts" >= Util.ts("2024-01-08") && $"ts" < Util.ts("2024-01-15") &&
        $"user_id" < 40)
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n"), sum($"event_id").as("sum_ev"),
        dsum($"value").as("sum_val"))
      .orderBy($"user_id")
  }

  /** CHANGE DATA FEED (round 7, second half): the row-level delta
    * between two snapshots as a readable DataFrame —
    * `changesFrom`/`changesTo` read options surface every commit in the
    * range as (row, _change_type, _commit_version), planned entirely
    * from the retained manifests' file diffs (one partition per CHANGED
    * file; cost proportional to the delta, never a table rescan — the
    * Delta/Iceberg CDF economics). The `!op=` header each commit now
    * records is what keeps the feed honest: this query drives every
    * commit kind through one table — three batch-aligned appends
    * (inserts), a metadata-only DELETE (deletes, zero data I/O), a
    * copy-on-write UPDATE (paired delete+insert carrying the new
    * values), then an OPTIMIZE whose file churn emits NOTHING (a diff
    * without the op header could not tell it from an overwrite). The
    * oracle reconstructs all five commits' deltas from source parquet —
    * the hash check proves the feed is loss-free and phantom-free. At
    * 100 TB this is how downstream incremental consumers (index
    * refresh, aggregate maintenance, replication) follow a mutating
    * table without rescanning it; it also answers the ranges the plain
    * incremental read refuses. Fresh table per invocation (DML
    * mutates). Protocol-level bounds live in GraftStoreSpec. */
  val qStoreCdf: Q = (s, dir) => {
    val s2 = s.newSession()
    val root = Util.managedTempDir("graft_cdf_")
    s2.conf.set("spark.sql.catalog.graftc", "graft.sources.GraftCatalog")
    s2.conf.set("spark.sql.catalog.graftc.root", root)
    import s2.implicits._
    val o = table(s2, dir, "orders")
      .select($"o_orderkey", $"o_totalprice",
        substring($"o_orderpriority", 1, 1).cast("int").as("pri"))
    (1 to 3).foreach { v => // v1..v3: appends, single-valued on pri
      o.filter($"pri" === v).repartition(2)
        .write.format("graft.sources.GraftStore")
        .option("path", s"$root/ctab").mode("append").save()
    }
    s2.sql("DELETE FROM graftc.ctab WHERE pri = 2") // v4: metadata-only
    s2.sql("UPDATE graftc.ctab SET o_totalprice = -o_totalprice WHERE pri = 3") // v5: copy-on-write
    graft.sources.GraftStore.compact(s2, s"$root/ctab", 1L << 30) // v6: optimize — silent in the feed
    s2.read.format("graft.sources.GraftStore")
      .option("path", s"$root/ctab")
      .option("changesFrom", "0").load()
      .groupBy($"_commit_version", $"_change_type", $"pri")
      .agg(count(lit(1)).as("n"), sum($"o_orderkey").as("sum_key"),
        dsum($"o_totalprice").as("sum_price"))
      .orderBy($"_commit_version", $"_change_type", $"pri")
  }

  /** PARTITIONED tables (round 7): `CREATE TABLE … PARTITIONED BY (pri)`
    * stores the (immutable) partition spec beside the manifest; every
    * write then demands clustering + ordering on the column and the
    * task writer ROLLS a new data file at each value change — one file
    * per partition value per task, every manifest entry single-valued
    * (min = max) on the column BY CONSTRUCTION. The consequences this
    * query proves end-to-end through plain SQL: partition pruning is
    * ordinary stats skipping (no separate partition metadata), and
    * `DELETE WHERE pri = 2` is ALWAYS metadata-only — unlike
    * q_etl_delete, which had to batch-align its appends by hand, the
    * layout here is the TABLE's own contract, kept by every writer
    * (the CTAS and the INSERT both interleave all five values and the
    * sink unscrambles them). The Hive/Iceberg partition economics with
    * the manifest as the only metadata. Single-valued entries, file
    * rolling, metadata-only delete and the multi-transform refusal are
    * pinned in GraftStoreSpec/GraftCatalogSpec. */
  val qStorePartitioned: Q = (s, dir) => {
    val s2 = s.newSession()
    val root = Util.managedTempDir("graft_part_")
    s2.conf.set("spark.sql.catalog.graftp", "graft.sources.GraftCatalog")
    s2.conf.set("spark.sql.catalog.graftp.root", root)
    table(s2, dir, "orders").createOrReplaceTempView("ord_part")
    s2.sql(
      """CREATE TABLE graftp.p PARTITIONED BY (pri) AS
        |SELECT o_orderkey, o_totalprice,
        |  CAST(substring(o_orderpriority, 1, 1) AS INT) AS pri
        |FROM ord_part WHERE o_orderkey % 2 = 0""".stripMargin)
    s2.sql(
      """INSERT INTO graftp.p
        |SELECT o_orderkey, o_totalprice,
        |  CAST(substring(o_orderpriority, 1, 1) AS INT) AS pri
        |FROM ord_part WHERE o_orderkey % 2 = 1""".stripMargin)
    s2.sql("DELETE FROM graftp.p WHERE pri = 2") // metadata-only by construction
    s2.sql(
      """SELECT pri, count(*) AS n_rows, CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM graftp.p GROUP BY pri ORDER BY pri""".stripMargin)
  }

  /** Partition-evolution table roots already written this JVM, keyed by
    * (session UUID, fixture dir). */
  private val partEvolveWritten = new java.util.concurrent.ConcurrentHashMap[String, String]

  /** PARTITION-SPEC EVOLUTION (round 11) — re-partition a live table
    * WITHOUT rewriting a byte of data, the Iceberg REPLACE PARTITION
    * FIELD economics: the first slice lands under PARTITIONED BY (pri)
    * (one file per priority, rolled at write time), then
    * [[graft.sources.GraftStore.evolvePartitionBy]] swaps the spec to
    * `bkt` as a pure metadata commit, and the second slice lands
    * clustered + rolled per bkt value. The read side needs NO
    * spec-awareness because nothing ever trusted the spec: a `bkt`
    * predicate prunes post-evolution files by ordinary stats skipping
    * (single-valued by construction), scans the pre-evolution files it
    * cannot disprove, and the mixed-spec table simply stops advertising
    * key-grouped partitioning (SPJ re-proves min==max per file and
    * degrades). At 100 TB this is the difference between "change the
    * partition key" being a full-table rewrite scheduled over a weekend
    * and a versioned metadata operation whose layout converges as new
    * data arrives. The oracle recomputes the filtered aggregate from
    * source parquet — layout evolution must be invisible to results.
    * File-level pruning/degradation pinned in PartitionEvolutionSpec. */
  val qStorePartEvolve: Q = (s, dir) => {
    import s.implicits._
    val path = partEvolveWritten.computeIfAbsent(s"${Util.sessionKey(s)}:$dir", _ => {
      val s2 = s.newSession()
      val root = Util.managedTempDir("graft_pevo_")
      s2.conf.set("spark.sql.catalog.graftpe", "graft.sources.GraftCatalog")
      s2.conf.set("spark.sql.catalog.graftpe.root", root)
      table(s2, dir, "orders").createOrReplaceTempView("ord_pevo")
      s2.sql(
        """CREATE TABLE graftpe.t PARTITIONED BY (pri) AS
          |SELECT o_orderkey, o_totalprice,
          |  CAST(substring(o_orderpriority, 1, 1) AS INT) AS pri,
          |  o_orderkey % 8 AS bkt
          |FROM ord_pevo WHERE o_orderkey % 2 = 0""".stripMargin)
      graft.sources.GraftStore.evolvePartitionBy(s"$root/t", Some("bkt"))
      s2.sql(
        """INSERT INTO graftpe.t
          |SELECT o_orderkey, o_totalprice,
          |  CAST(substring(o_orderpriority, 1, 1) AS INT) AS pri,
          |  o_orderkey % 8 AS bkt
          |FROM ord_pevo WHERE o_orderkey % 2 = 1""".stripMargin)
      s"$root/t"
    })
    s.read.format("graft.sources.GraftStore").option("path", path).load()
      .filter($"bkt" === 3)
      .groupBy($"pri")
      .agg(count(lit(1)).as("n_rows"),
        sum($"o_orderkey").as("sum_key"),
        dsum($"o_totalprice").as("sum_price"))
      .orderBy($"pri")
  }

  /** Incremental-pipeline table dirs already written this JVM, keyed by
    * (session UUID, fixture dir). */
  private val pincrWritten = new java.util.concurrent.ConcurrentHashMap[String, String]

  /** CDF-FED INCREMENTAL CURATION (round 7) — the lakehouse and the
    * curation pipeline in ONE declarative plan, the daily-crawl loop a
    * 100 TB corpus actually runs: the standing corpus is snapshot v1 of
    * a GraftStore table, the day's crawl lands as commit v2, and the
    * pipeline's INPUT is the change feed of that commit (insert rows of
    * changesFrom=1..2) — never a rescan of the corpus table. The feed
    * rows pass a cheap quality gate, get MinHashLanes signatures (the
    * shuffle-free kernel, shared with every other dedup path), and band-
    * join ONE-SIDEDLY against the corpus snapshot's signatures
    * (batch × corpus, never corpus × corpus); exact Jaccard over
    * shingles verifies candidates (corpus text touched only for
    * survivors via a semi-join) and verified near-dups of the corpus
    * are anti-joined away. Output: surviving mass per language. Every
    * stage is shuffle-bounded by the BATCH size plus colliding buckets
    * — the corpus contributes one kernel pass over its snapshot (at
    * scale: a stored signature table) and nothing else. The oracle
    * replays gate + minhash + banding + verification + anti-join in
    * SQL from source parquet. */
  val qPipelineIncr: Q = (s, dir) => {
    import s.implicits._
    val path = pincrWritten.computeIfAbsent(s"${Util.sessionKey(s)}:$dir", _ => {
      val d = Util.managedTempDir("graft_pincr_")
      val doc = table(s, dir, "documents")
        .select($"doc_id", $"lang", $"text", $"n_chars")
      doc.filter($"doc_id" % 5 < 4).repartition(4)
        .write.format("graft.sources.GraftStore").option("path", d)
        .mode("append").save() // v1: the standing corpus
      doc.filter($"doc_id" % 5 === 4).repartition(2)
        .write.format("graft.sources.GraftStore").option("path", d)
        .mode("append").save() // v2: the day's crawl
      d
    })
    val corpus = s.read.format("graft.sources.GraftStore")
      .option("path", path).option("versionAsOf", "1").load()
    val batch = s.read.format("graft.sources.GraftStore")
      .option("path", path)
      .option("changesFrom", "1").option("changesTo", "2").load()
      .filter($"_change_type" === "insert")
      .select($"doc_id", $"lang", $"text", $"n_chars")
    val gated = Util.cached(batch
      .filter($"n_chars" >= 100 && size(LlmOps.toks($"text")) >= 20))
    val bandStructs = array((0 until 4).map(b =>
      struct(lit(b).as("band"),
        concat(col(s"m${2 * b}"), lit("|"), col(s"m${2 * b + 1}"))
          .as("bkey"))): _*)
    def bandsOf(df: org.apache.spark.sql.DataFrame) =
      LlmOps.minHashSigOf(df)
        .select($"doc_id", explode(bandStructs).as("f"))
        .select($"doc_id", $"f.band".as("band"), $"f.bkey".as("bkey"))
    val cands = bandsOf(gated).as("x")
      .join(bandsOf(corpus).as("y"),
        $"x.band" === $"y.band" && $"x.bkey" === $"y.bkey")
      .select($"x.doc_id".as("batch_doc"), $"y.doc_id".as("corpus_doc"))
      .distinct()
      .transform(Util.cached) // feeds both candDocs legs + the verify join
    val candDocs = cands.select($"batch_doc".as("doc_id"))
      .unionAll(cands.select($"corpus_doc".as("doc_id"))).distinct()
    // cached: docsh feeds BOTH pair legs — uncached, the semi-join +
    // shingle subtree executes once per leg with duplicate codegen
    val docsh = Util.cached(gated.select($"doc_id", $"text")
      .unionAll(corpus.select($"doc_id", $"text"))
      .join(candDocs, Seq("doc_id"), "left_semi")
      .select($"doc_id",
        // round 19: native DistinctShinglesArray instead of the
        // interpreted array_distinct(shingles(toks(...))) chain —
        // identical arrays, pinned in PropertySpec
        org.apache.spark.sql.graft.GraftSql.column(
          graft.functions.DistinctShinglesArray(
            org.apache.spark.sql.graft.GraftSql.expression($"text"), 3))
          .as("shs")))
    val dup = cands
      .join(docsh.select($"doc_id".as("batch_doc"), $"shs".as("sa")), "batch_doc")
      .join(docsh.select($"doc_id".as("corpus_doc"), $"shs".as("sb")), "corpus_doc")
      .filter((size(array_intersect($"sa", $"sb")).cast("double") /
        (size($"sa") + size($"sb") - size(array_intersect($"sa", $"sb"))))
        >= 0.8)
      .select($"batch_doc".as("doc_id")).distinct()
    gated.join(dup, Seq("doc_id"), "left_anti")
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_kept"), sum($"n_chars").as("sum_chars"))
      .orderBy($"lang")
  }

  /** (corpus table, signature table) dirs already written this JVM. */
  private val pincrStoredWritten =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]

  /** STORED-SIGNATURE incremental curation (round 8) — q_pipeline_incr
    * taken to its true 100 TB shape: the corpus's MinHash signatures are
    * a MAINTAINED GraftStore table, not a per-run recomputation. The
    * daily loop becomes: read the day's change feed, gate it, sign the
    * BATCH ONLY (the one kernel pass left, sized by the day), band-join
    * against the STORED signature snapshot — 8 small integer columns per
    * corpus doc, no corpus text ever touched for candidate generation —
    * verify candidates by exact Jaccard (corpus text read only for the
    * semi-joined survivors), anti-join, and append the surviving batch's
    * signatures back to the signature table as the next snapshot (the
    * maintenance commit, here done once at build time: v1 = corpus sigs,
    * v2 = +batch sigs; the query reads versionAsOf=1, exactly what the
    * next day's run would have seen). I/O per day ∝ batch + signature
    * table (≈ 0.1% of corpus bytes) instead of ∝ corpus — the difference
    * between re-scanning 100 TB nightly and reading a 100 GB sidecar.
    * Same dup semantics as q_pipeline_incr, so the oracle replays the
    * identical gate+minhash+band+verify+anti-join from source parquet. */
  val qPipelineIncrStored: Q = (s, dir) => {
    import s.implicits._
    val (path, sigPath) = pincrStoredWritten.computeIfAbsent(
      s"${Util.sessionKey(s)}:$dir", _ => {
        val d = Util.managedTempDir("graft_pincr_st_")
        val sd = Util.managedTempDir("graft_pincr_sig_")
        val doc = table(s, dir, "documents")
          .select($"doc_id", $"lang", $"text", $"n_chars")
        doc.filter($"doc_id" % 5 < 4).repartition(4)
          .write.format("graft.sources.GraftStore").option("path", d)
          .mode("append").save() // v1: the standing corpus
        doc.filter($"doc_id" % 5 === 4).repartition(2)
          .write.format("graft.sources.GraftStore").option("path", d)
          .mode("append").save() // v2: the day's crawl
        // signature sidecar v1: one kernel pass over the corpus, stored
        val corpusV1 = s.read.format("graft.sources.GraftStore")
          .option("path", d).option("versionAsOf", "1").load()
        LlmOps.minHashSigOf(corpusV1).repartition(2)
          .write.format("graft.sources.GraftStore").option("path", sd)
          .mode("append").save()
        // maintenance commit: the day's surviving signatures append as
        // v2 — what tomorrow's run reads (content irrelevant to THIS
        // query, which pins versionAsOf=1; committed once, not per run)
        val batchV2 = s.read.format("graft.sources.GraftStore")
          .option("path", d)
          .option("changesFrom", "1").option("changesTo", "2").load()
          .filter($"_change_type" === "insert")
          .select($"doc_id", $"lang", $"text", $"n_chars")
        LlmOps.minHashSigOf(batchV2).repartition(1)
          .write.format("graft.sources.GraftStore").option("path", sd)
          .mode("append").save()
        (d, sd)
      })
    val corpus = s.read.format("graft.sources.GraftStore")
      .option("path", path).option("versionAsOf", "1").load()
    val batch = s.read.format("graft.sources.GraftStore")
      .option("path", path)
      .option("changesFrom", "1").option("changesTo", "2").load()
      .filter($"_change_type" === "insert")
      .select($"doc_id", $"lang", $"text", $"n_chars")
    val gated = Util.cached(batch
      .filter($"n_chars" >= 100 && size(LlmOps.toks($"text")) >= 20))
    val bandStructs = array((0 until 4).map(b =>
      struct(lit(b).as("band"),
        concat(col(s"m${2 * b}"), lit("|"), col(s"m${2 * b + 1}"))
          .as("bkey"))): _*)
    def bands(sig: org.apache.spark.sql.DataFrame) =
      sig.select($"doc_id", explode(bandStructs).as("f"))
        .select($"doc_id", $"f.band".as("band"), $"f.bkey".as("bkey"))
    // the scale pivot: corpus-side bands come from the STORED snapshot
    val corpusSigs = s.read.format("graft.sources.GraftStore")
      .option("path", sigPath).option("versionAsOf", "1").load()
    val cands = bands(LlmOps.minHashSigOf(gated)).as("x")
      .join(bands(corpusSigs).as("y"),
        $"x.band" === $"y.band" && $"x.bkey" === $"y.bkey")
      .select($"x.doc_id".as("batch_doc"), $"y.doc_id".as("corpus_doc"))
      .distinct()
      .transform(Util.cached)
    val candDocs = cands.select($"batch_doc".as("doc_id"))
      .unionAll(cands.select($"corpus_doc".as("doc_id"))).distinct()
    // cached: docsh feeds BOTH pair legs — uncached, the semi-join +
    // shingle subtree executes once per leg with duplicate codegen
    val docsh = Util.cached(gated.select($"doc_id", $"text")
      .unionAll(corpus.select($"doc_id", $"text"))
      .join(candDocs, Seq("doc_id"), "left_semi")
      .select($"doc_id",
        // round 19: native DistinctShinglesArray instead of the
        // interpreted array_distinct(shingles(toks(...))) chain —
        // identical arrays, pinned in PropertySpec
        org.apache.spark.sql.graft.GraftSql.column(
          graft.functions.DistinctShinglesArray(
            org.apache.spark.sql.graft.GraftSql.expression($"text"), 3))
          .as("shs")))
    val dup = cands
      .join(docsh.select($"doc_id".as("batch_doc"), $"shs".as("sa")), "batch_doc")
      .join(docsh.select($"doc_id".as("corpus_doc"), $"shs".as("sb")), "corpus_doc")
      .filter((size(array_intersect($"sa", $"sb")).cast("double") /
        (size($"sa") + size($"sb") - size(array_intersect($"sa", $"sb"))))
        >= 0.8)
      .select($"batch_doc".as("doc_id")).distinct()
    gated.join(dup, Seq("doc_id"), "left_anti")
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_kept"), sum($"n_chars").as("sum_chars"))
      .orderBy($"lang")
  }

  /** STREAMING change feed (round 7) — the live half of q_store_cdf:
    * readStream with `changesFrom` tails a MUTATING table, version
    * offsets like q_stream_tail but each micro-batch is the CDF diff of
    * its commit range, so the tail follows DELETE/UPDATE (emitting
    * their deltas) and stays silent across OPTIMIZE instead of refusing
    * non-append history — the one shape the plain table tail cannot
    * serve. The query drives append/append/metadata-DELETE/copy-on-
    * write-UPDATE/OPTIMIZE through a table while a real
    * readStream→memory-sink tail drains it, then aggregates the drained
    * feed; the oracle reconstructs every commit's delta from source
    * parquet — the drained stream must be loss-free and phantom-free
    * across all five commit kinds. At 100 TB this is the incremental
    * consumer loop (index/aggregate/replica maintenance) running LIVE
    * against the curation pipeline's own DML. Per-commit batch
    * boundaries + OPTIMIZE silence pinned in GraftStoreSpec. */
  val qStreamCdf: Q = (s, dir) => {
    val s2 = s.newSession()
    import s2.implicits._
    // the 5-version table is a FIXTURE (append, append, metadata-only
    // delete, copy-on-write update, silent compaction) — built once per
    // (session, dir); the measured operator is the CDF STREAM over that
    // committed history, which re-runs in full every invocation
    val root = streamCdfWritten.computeIfAbsent(s"${Util.sessionKey(s)}:$dir", _ => {
      val r = Util.managedTempDir("graft_scdf_")
      s2.conf.set("spark.sql.catalog.graftsc", "graft.sources.GraftCatalog")
      s2.conf.set("spark.sql.catalog.graftsc.root", r)
      val o = table(s2, dir, "orders")
        .select($"o_orderkey", $"o_totalprice",
          substring($"o_orderpriority", 1, 1).cast("int").as("pri"))
      (1 to 2).foreach { v => // v1, v2: batch-aligned appends
        o.filter($"pri" === v).repartition(2)
          .write.format("graft.sources.GraftStore")
          .option("path", s"$r/ctab").mode("append").save()
      }
      s2.sql("DELETE FROM graftsc.ctab WHERE pri = 2") // v3: metadata-only
      s2.sql("UPDATE graftsc.ctab SET o_totalprice = -o_totalprice WHERE pri = 1") // v4: copy-on-write
      graft.sources.GraftStore.compact(s2, s"$r/ctab", 1L << 30) // v5: silent
      r
    })
    val sink = s"scdf_${java.lang.Long.toHexString(System.nanoTime())}"
    val q = s2.readStream.format("graft.sources.GraftStore")
      .option("path", s"$root/ctab").option("changesFrom", "0").load()
      .writeStream.format("memory").queryName(sink).outputMode("append")
      .option("checkpointLocation", Util.managedTempDir("graft_scdf_ckpt_"))
      .start()
    try q.processAllAvailable() finally q.stop()
    Util.registerTempView(s2, sink) // dropped at the next query boundary
    s2.table(sink)
      .groupBy($"_commit_version", $"_change_type", $"pri")
      .agg(count(lit(1)).as("n"), sum($"o_orderkey").as("sum_key"),
        dsum($"o_totalprice").as("sum_price"))
      .orderBy($"_commit_version", $"_change_type", $"pri")
  }

  /** CDF-history fixture dirs already written this JVM, keyed by
    * (session UUID, fixture dir). */
  private val streamCdfWritten = new java.util.concurrent.ConcurrentHashMap[String, String]

  /** Join-MV fixture roots (two store tables + registered rollup)
    * already built this JVM, keyed by (session UUID, fixture dir). */
  private val storeMvJoinWritten = new java.util.concurrent.ConcurrentHashMap[String, String]

  /** For tests that COMMIT onto the shared join-MV fixture (the
    * staleness-decline pin mutates the dim side): drop the memo so the
    * next invocation rebuilds a fresh, rewrite-eligible fixture. */
  private[graft] def invalidateStoreMvJoinFixture(): Unit =
    storeMvJoinWritten.clear()

  /** Bloom-skip table dirs already written this JVM, keyed by
    * (session UUID, fixture dir). */
  private val bloomWritten = new java.util.concurrent.ConcurrentHashMap[String, String]

  /** STRING-equality file skipping via per-file Bloom filters (round 7)
    * — the manifest's numeric min/max can't carry arbitrary strings
    * (delimiter collisions), so every string column gets a 256-bit
    * Murmur3 Bloom in its stats line instead: equality predicates probe
    * it at PLANNING time and absence proves a file empty of the value
    * (one-sided, like parquet/Iceberg bloom filters — false positives
    * just read the file, the residual filter still runs). Customer is
    * written clustered on c_mktsegment, so each segment's rows live in
    * one file and a segment lookup plans ~1 of N files from manifest
    * lines alone; the oracle recomputes the filtered aggregate from
    * source parquet, proving skipping is invisible to results. The
    * needle-in-100 TB shape: lookups by url/id/hash skip almost every
    * file with zero data I/O. Protocol-level skip counts + absent-key
    * zero-file plan pinned in GraftStoreSpec. */
  val qStoreBloomskip: Q = (s, dir) => {
    import s.implicits._
    val path = bloomWritten.computeIfAbsent(s"${Util.sessionKey(s)}:$dir", _ => {
      val d = Util.managedTempDir("graft_bloom_")
      table(s, dir, "customer")
        .select($"c_custkey", $"c_mktsegment", $"c_acctbal")
        .write.format("graft.sources.GraftStore").option("path", d)
        .option("clusterBy", "c_mktsegment").option("sortBy", "c_custkey")
        .mode("overwrite").save()
      d
    })
    s.read.format("graft.sources.GraftStore").option("path", path).load()
      .filter($"c_mktsegment" === "BUILDING")
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n_custs"), sum($"c_custkey").as("sum_key"),
        dsum($"c_acctbal").as("sum_bal"))
      .orderBy($"c_mktsegment")
  }

  /** SCHEMA EVOLUTION on the connector (round 7) — `ALTER TABLE … ADD
    * COLUMN` as a pure metadata COMMIT: only the manifest's schema line
    * changes (atomic pointer swap, version bump — time travel to a
    * pre-ALTER snapshot reads the OLD schema), every data file stays
    * byte-identical, and the reader null-pads old files' rows to the
    * new width using the per-entry arity the manifest records (UnsafeRow
    * bakes its field count into the bytes, so old frames are parsed at
    * their own arity — the q_src_evolution story done properly, with
    * table metadata instead of parquet footer merging). Pre-ALTER rows
    * come back with NULL in the appended column, post-ALTER writes carry
    * real values; the oracle splices the same union from source parquet.
    * Only nullable end-appended columns are allowed — the one evolution
    * needing no data rewrite; everything else is refused (pinned in
    * GraftCatalogSpec along with the mixed-arity compaction guard). */
  val qStoreEvolution: Q = (s, dir) => {
    val s2 = s.newSession()
    s2.conf.set("spark.sql.catalog.gev", "graft.sources.GraftCatalog")
    s2.conf.set("spark.sql.catalog.gev.root", Util.managedTempDir("graft_evolution_"))
    table(s2, dir, "supplier").createOrReplaceTempView("supp")
    s2.sql("DROP TABLE IF EXISTS gev.sup")
    s2.sql(
      """CREATE TABLE gev.sup AS
        |SELECT s_suppkey, s_nationkey FROM supp WHERE s_suppkey % 2 = 0""".stripMargin)
    s2.sql("ALTER TABLE gev.sup ADD COLUMN s_acctbal DOUBLE")
    s2.sql(
      """INSERT INTO gev.sup
        |SELECT s_suppkey, s_nationkey, s_acctbal
        |FROM supp WHERE s_suppkey % 2 = 1""".stripMargin)
    s2.sql(
      """SELECT s_suppkey, s_nationkey, s_acctbal
        |FROM gev.sup ORDER BY s_suppkey""".stripMargin)
  }

  /** NESTED-FIELD EVOLUTION (round 15) — ADD and RENAME of a struct
    * SUBFIELD as metadata-only commits, the evolution a multimodal
    * `meta` struct lives by: `ALTER TABLE t ADD COLUMN meta.seg STRING`
    * appends a nullable field at the end of the struct and marks every
    * existing file with its bytes' struct arity; the reader pads the
    * missing subfield with nulls through a delegating struct view (a
    * nested UnsafeRow bakes its field count into its bytes, so the
    * top-level JoinedRow tail pad can't reach inside). RENAME of a
    * subfield is a pure schema flip — data is positional, and no
    * name-keyed metadata (stats, eq-delete keys, partition specs)
    * reaches below the top level. Old rows surface NULL in the new
    * subfield, post-evolve rows carry real values, and the oracle
    * splices the same union from source parquet. Marker mechanics,
    * compaction arity-splitting and the refusal matrix are pinned in
    * GraftStoreEvolveSpec. */
  val qStoreEvolveNested: Q = (s, dir) => {
    val s2 = s.newSession()
    s2.conf.set("spark.sql.catalog.gnes", "graft.sources.GraftCatalog")
    s2.conf.set("spark.sql.catalog.gnes.root", Util.managedTempDir("graft_evnested_"))
    table(s2, dir, "supplier").createOrReplaceTempView("supp_n")
    s2.sql("DROP TABLE IF EXISTS gnes.sup")
    s2.sql(
      """CREATE TABLE gnes.sup AS
        |SELECT s_suppkey,
        |  named_struct('nation', s_nationkey,
        |               'bal', CAST(s_acctbal AS DOUBLE)) AS meta
        |FROM supp_n WHERE s_suppkey % 2 = 0""".stripMargin)
    s2.sql("ALTER TABLE gnes.sup ADD COLUMN meta.seg STRING")
    s2.sql(
      """INSERT INTO gnes.sup
        |SELECT s_suppkey,
        |  named_struct('nation', s_nationkey,
        |               'bal', CAST(s_acctbal AS DOUBLE),
        |               'seg', concat('n', s_nationkey)) AS meta
        |FROM supp_n WHERE s_suppkey % 2 = 1""".stripMargin)
    s2.sql("ALTER TABLE gnes.sup RENAME COLUMN meta.nation TO nat")
    s2.sql(
      """SELECT s_suppkey, meta.nat AS nat, meta.bal AS bal, meta.seg AS seg
        |FROM gnes.sup ORDER BY s_suppkey""".stripMargin)
  }

  /** NESTED DROP + NESTED WIDEN (round 16) — the two struct-subfield
    * evolutions beyond add/rename, both metadata-only commits on the
    * per-file marker scheme: DROP records each file's physical position
    * of the dropped field (the reader maps logical positions PAST the
    * dead bytes — they're never touched, so even their type stops
    * mattering); WIDEN long→double records the positions whose bytes
    * hold longs the schema now reads as doubles (a value conversion at
    * access — the top-level in-place lane trick can't reach inside a
    * nested UnsafeRow). The lifecycle composes widen → drop → add on
    * one struct and reads the mix back: evens carry pre-evolution bytes
    * (converted + skipped + padded at read), odds arrive post-evolution
    * carrying the final struct natively. CDF crossing + refusal matrix
    * pinned in GraftStoreEvolveSpec. */
  val qStoreEvolveNested2: Q = (s, dir) => {
    val s2 = s.newSession()
    s2.conf.set("spark.sql.catalog.gne2", "graft.sources.GraftCatalog")
    s2.conf.set("spark.sql.catalog.gne2.root", Util.managedTempDir("graft_evnested2_"))
    table(s2, dir, "supplier").createOrReplaceTempView("supp_n2")
    s2.sql("DROP TABLE IF EXISTS gne2.sup")
    s2.sql(
      """CREATE TABLE gne2.sup AS
        |SELECT s_suppkey,
        |  named_struct('nation', s_nationkey,
        |               'bal', s_suppkey * 3,
        |               'seg', concat('n', s_nationkey)) AS meta
        |FROM supp_n2 WHERE s_suppkey % 2 = 0""".stripMargin)
    s2.sql("ALTER TABLE gne2.sup ALTER COLUMN meta.bal TYPE DOUBLE")
    s2.sql("ALTER TABLE gne2.sup DROP COLUMN meta.nation")
    s2.sql("ALTER TABLE gne2.sup ADD COLUMN meta.grade STRING")
    s2.sql(
      """INSERT INTO gne2.sup
        |SELECT s_suppkey,
        |  named_struct('bal', CAST(s_suppkey AS DOUBLE) * 2.5,
        |               'seg', concat('n', s_nationkey),
        |               'grade', concat('g', s_suppkey % 3)) AS meta
        |FROM supp_n2 WHERE s_suppkey % 2 = 1""".stripMargin)
    s2.sql(
      """SELECT s_suppkey, meta.bal AS bal, meta.seg AS seg, meta.grade AS grade
        |FROM gne2.sup ORDER BY s_suppkey""".stripMargin)
  }

  /** COLUMN RENAME + INT->LONG WIDENING (round 13) — the two schema
    * evolutions beyond add-nullable-at-end, both pure metadata commits.
    * Rename needs NO field ids: this format's data files are positional
    * (length-framed UnsafeRow bytes), so a name never appears in data —
    * what the commit remaps is every name-keyed metadata consumer
    * (per-entry stats keys so pruning keeps firing, equality-delete key
    * lists, the partition spec). Widening rides the UnsafeRow layout:
    * every fixed-width slot is 8 bytes, so the reader sign-extends the
    * physically-int lane IN PLACE on files the manifest marks `narrow`
    * — zero wrapper rows, zero data rewrites, and post-widen appends
    * carry native longs (this query inserts keys beyond Int range to
    * prove the point). Time travel to pre-evolution snapshots reads the
    * OLD name and OLD type (schema resolves AS OF the snapshot);
    * narrowing is refused. At 100 TB both operations cost one manifest
    * commit — the Iceberg evolution economics without the field-id
    * machinery. */
  val qStoreEvolveRename: Q = (s, dir) => {
    val s2 = s.newSession()
    s2.conf.set("spark.sql.catalog.gevn", "graft.sources.GraftCatalog")
    s2.conf.set("spark.sql.catalog.gevn.root",
      Util.managedTempDir("graft_evolve_ren_"))
    table(s2, dir, "supplier").createOrReplaceTempView("supp_ren")
    s2.sql("DROP TABLE IF EXISTS gevn.sup")
    s2.sql(
      """CREATE TABLE gevn.sup AS
        |SELECT CAST(s_suppkey AS INT) AS s_suppkey, s_nationkey, s_acctbal
        |FROM supp_ren WHERE s_suppkey % 2 = 0""".stripMargin)
    s2.sql("ALTER TABLE gevn.sup RENAME COLUMN s_nationkey TO nation")
    s2.sql("ALTER TABLE gevn.sup ALTER COLUMN s_suppkey TYPE BIGINT")
    // post-widen insert with keys beyond Int range — the widened lane
    // and the old int lane aggregate together exactly
    s2.sql(
      """INSERT INTO gevn.sup
        |SELECT s_suppkey + 3000000000 AS s_suppkey, s_nationkey AS nation,
        |       s_acctbal
        |FROM supp_ren WHERE s_suppkey % 2 = 1""".stripMargin)
    s2.sql(
      """SELECT nation, count(*) AS n_sup,
        | CAST(sum(s_suppkey) AS BIGINT) AS sum_key,
        | CAST(sum(CAST(s_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_bal
        |FROM gevn.sup GROUP BY nation ORDER BY nation""".stripMargin)
  }

  /** WIDEN-TO-DOUBLE EVOLUTION + CHANGE FEED ACROSS WIDENS (round 14) —
    * the full type-promotion matrix as one driver-gated query:
    * int→long→double CHAIN on the key (the physical int lane ends up
    * under a double schema carrying ONE upgraded int→double marker) and
    * float→double on the balance, all metadata-only commits; a
    * post-widen insert writes native doubles; and the change feed reads
    * the WHOLE history from v0 — crossing three widening commits — with
    * pre-widen insert images emitted in the widened types (the
    * structural narrow-marker upgrade, never an op-string check, so the
    * same lane works for widens that arrive inside fastForward
    * publishes). Determinism: key values are 0.5-multiples (exact in
    * double at any sum order); the float-era balance is rounded to its
    * original 2dp before the exact decimal sum (float noise sits ~1e-5
    * from any rounding boundary). */
  val qStoreEvolveWiden2: Q = (s, dir) => {
    val s2 = s.newSession()
    s2.conf.set("spark.sql.catalog.gwd2", "graft.sources.GraftCatalog")
    val root = Util.managedTempDir("graft_evolve_wid2_")
    s2.conf.set("spark.sql.catalog.gwd2.root", root)
    table(s2, dir, "supplier").createOrReplaceTempView("supp_w2")
    s2.sql("DROP TABLE IF EXISTS gwd2.sup")
    s2.sql(
      """CREATE TABLE gwd2.sup AS
        |SELECT CAST(s_suppkey AS INT) AS k, CAST(s_acctbal AS FLOAT) AS bal
        |FROM supp_w2 WHERE s_suppkey % 2 = 0""".stripMargin) // v1
    s2.sql("ALTER TABLE gwd2.sup ALTER COLUMN k TYPE BIGINT") // v2
    s2.sql("ALTER TABLE gwd2.sup ALTER COLUMN k TYPE DOUBLE") // v3 (chain)
    s2.sql("ALTER TABLE gwd2.sup ALTER COLUMN bal TYPE DOUBLE") // v4
    s2.sql(
      """INSERT INTO gwd2.sup
        |SELECT CAST(s_suppkey AS DOUBLE) + 0.5 AS k,
        |       CAST(CAST(s_acctbal AS FLOAT) AS DOUBLE) AS bal
        |FROM supp_w2 WHERE s_suppkey % 2 = 1""".stripMargin) // v5
    import s2.implicits._
    val balR = round($"bal", 2)
    val fin = s2.table("gwd2.sup")
      .agg(count(lit(1)).as("n"),
        sum(dec($"k")).cast("double").as("sum_k"),
        sum(dec(balR)).cast("double").as("sum_bal"))
      .select(lit("final").as("side"), lit(-1L).as("grp"),
        $"n", $"sum_k", $"sum_bal")
    val feed = s2.read.format("graft.sources.GraftStore")
      .option("path", s"$root/sup").option("changesFrom", "0").load()
      .groupBy($"_commit_version".as("grp"))
      .agg(count(lit(1)).as("n"),
        sum(dec($"k")).cast("double").as("sum_k"),
        sum(dec(round($"bal", 2))).cast("double").as("sum_bal"))
      .select(lit("cdf").as("side"), $"grp", $"n", $"sum_k", $"sum_bal")
    fin.unionAll(feed).orderBy($"side", $"grp")
  }

  /** CBO store dirs already written this JVM, keyed by (session, dir). */
  private val cboStoreWritten = new java.util.concurrent.ConcurrentHashMap[String, String]

  /** COST-BASED JOIN REORDER FED BY MANIFEST STATISTICS (round 9) — the
    * bridge between the store's per-file stats and Catalyst's cost
    * model, with NO ANALYZE TABLE anywhere: GraftStoreScan implements
    * SupportsReportStatistics, folding manifest lines into exact row
    * counts, per-column min/max/null bounds, and HLL-union distinct
    * estimates (write-time NdvHll sketches, merged per register) — and
    * Spark's `transformV2Stats` lands them as catalyst attributeStats,
    * so `spark.sql.cbo.joinReorder` re-plans the join chain from table-
    * format metadata alone. The query text joins in the WORST order
    * (lineitem fact first, the selective customer slice last); the cost
    * model must move the fact to the outermost join (pinned in
    * PlanShapeSpec). Where q_cbo_reorder needs a scheduled full-scan
    * ANALYZE to stay fresh, these stats are BY CONSTRUCTION as fresh as
    * the snapshot being read — the difference between "stats as
    * maintenance" and "stats as metadata" at 100 TB. The oracle
    * recomputes from source parquet: content is invariant to join
    * order, so the hash check also proves the stats path never touches
    * results. */
  val qStoreCbo: Q = (s, dir) => {
    val root = cboStoreWritten.computeIfAbsent(s"${Util.sessionKey(s)}:$dir", _ => {
      import s.implicits._
      val d = Util.managedTempDir("graft_cbostore_")
      table(s, dir, "lineitem")
        .select($"l_orderkey", $"l_extendedprice")
        .write.format("graft.sources.GraftStore")
        .option("path", s"$d/lineitem").mode("overwrite").save()
      table(s, dir, "orders")
        .select($"o_orderkey", $"o_custkey", $"o_orderstatus")
        .write.format("graft.sources.GraftStore")
        .option("path", s"$d/orders").mode("overwrite").save()
      table(s, dir, "customer")
        .select($"c_custkey", $"c_mktsegment")
        .filter($"c_mktsegment" === "BUILDING")
        .write.format("graft.sources.GraftStore")
        .option("path", s"$d/customer").mode("overwrite").save()
      d
    })
    val s2 = s.newSession()
    s2.conf.set("spark.sql.cbo.enabled", "true")
    s2.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
    import s2.implicits._
    def t(n: String) = s2.read.format("graft.sources.GraftStore")
      .option("path", s"$root/$n").load()
    val l = t("lineitem"); val o = t("orders"); val c = t("customer")
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .groupBy($"o_orderstatus")
      .agg(count(lit(1)).as("n_rows"), dsum($"l_extendedprice").as("sum_price"))
      .orderBy($"o_orderstatus")
  }

  val queries: Map[String, Q] = Map(
    "q_store_cbo" -> qStoreCbo,
    "q_src_skipping" -> qSrcSkipping,
    "q_etl_delete" -> qEtlDelete,
    "q_stream_sink" -> qStreamSink,
    "q_stream_sink_part" -> qStreamSinkPart,
    "q_stream_sink_branch" -> qStreamSinkBranch,
    "q_store_evolution" -> qStoreEvolution,
    "q_store_evolve_nested" -> qStoreEvolveNested,
    "q_store_evolve_nested2" -> qStoreEvolveNested2,
    "q_store_evolve_rename" -> qStoreEvolveRename,
    "q_store_evolve_widen2" -> qStoreEvolveWiden2,
    "q_store_bloomskip" -> qStoreBloomskip,
    "q_store_metaagg" -> qStoreMetaagg,
    "q_store_metaagg_group" -> qStoreMetaaggGroup,
    "q_store_metaagg_filtered" -> qStoreMetaaggFiltered,
    "q_store_partitions_meta" -> qStorePartitionsMeta,
    "q_store_merge" -> qStoreMerge,
    "q_store_merge_evolve" -> qStoreMergeEvolve,
    "q_store_merge_nbs" -> qStoreMergeNbs,
    "q_store_merge_mor" -> qStoreMergeMor,
    "q_store_eqdelete" -> qStoreEqdelete,
    "q_store_eqdelete_ts" -> qStoreEqdeleteTs,
    "q_store_eqdelete_cdf" -> qStoreEqdeleteCdf,
    "q_store_deletes_meta" -> qStoreDeletesMeta,
    "q_store_scd2" -> qStoreScd2,
    "q_store_dml" -> qStoreDml,
    "q_store_cdf" -> qStoreCdf,
    "q_store_cdf_sql" -> qStoreCdfSql,
    "q_store_cdf_sql_ts" -> qStoreCdfSqlTs,
    "q_store_zorder" -> qStoreZorder,
    "q_store_zorder_ts" -> qStoreZorderTs,
    "q_stream_cdf" -> qStreamCdf,
    "q_pipeline_incr" -> qPipelineIncr,
    "q_pipeline_incr_stored" -> qPipelineIncrStored,
    "q_store_partitioned" -> qStorePartitioned,
    "q_store_part_evolve" -> qStorePartEvolve,
    "q_store_part_multi" -> qStorePartMulti,
    "q_store_part_days" -> qStorePartDays,
    "q_store_part_composite" -> qStorePartComposite,
    "q_store_part_hours" -> qStorePartHours,
    "q_store_part_months" -> qStorePartMonths,
    "q_store_part_years" -> qStorePartYears,
    "q_store_part_bucket" -> qStorePartBucket,
    "q_store_spj_bucket" -> qStoreSpjBucket,
    "q_catalog_sql" -> qCatalogSql,
    "q_catalog_view" -> qCatalogView,
    "q_catalog_rtas" -> qCatalogRtas,
    "q_catalog_proc" -> qCatalogProc,
    "q_sink_roundtrip" -> qSinkRoundtrip,
    "q_store_timetravel" -> qStoreTimetravel,
    "q_store_tag" -> qStoreTag,
    "q_store_restore" -> qStoreRestore,
    "q_store_timetravel_ts" -> qStoreTimetravelTs,
    "q_store_spj" -> qStoreSpj,
    "q_store_spj_multi" -> qStoreSpjMulti,
    "q_store_vacuum" -> qStoreVacuum,
    "q_store_clone" -> qStoreClone,
    "q_store_dv" -> qStoreDv,
    "q_store_mv" -> qStoreMv,
    "q_mv_txn_refresh" -> qMvTxnRefresh,
    "q_store_mv_join" -> qStoreMvJoin,
    "q_store_wap" -> qStoreWap,
    "q_store_branch" -> qStoreBranch,
    "q_stream_upsert" -> qStreamUpsert,
    "q_stream_upsert_mor" -> qStreamUpsertMor,
    "q_stream_upsert_eq" -> qStreamUpsertEq,
    "q_stream_mirror_eq" -> qStreamMirrorEq,
    "q_stream_txn_sink" -> qStreamTxnSink,
    "q_store_optimize" -> qStoreOptimize,
    "q_store_optimize_where" -> qStoreOptimizeWhere,
    "q_store_optimize_sort" -> qStoreOptimizeSort,
    "q_store_insert_overwrite" -> qStoreInsertOverwrite,
    "q_store_replace_where" -> qStoreReplaceWhere,
    "q_store_check" -> qStoreCheck,
    "q_stream_restate" -> qStreamRestate,
    "q_stream_restate_pred" -> qStreamRestatePred,
    "q_store_incremental" -> qStoreIncremental,
    "q_store_history" -> qStoreHistory,
    "q_store_expire_age" -> qStoreExpireAge,
    "q_stream_tail" -> qStreamTail,
    "q_src_binaryfile" -> qSrcBinaryfile,
    "q_src_evolution" -> qSrcEvolution,
    "q_src_text" -> qSrcText,
    "q_join_dpp" -> qJoinDpp,
    "q_src_csv" -> qSrcCsv,
    "q_src_jdbc" -> qSrcJdbc,
    "q_src_json" -> qSrcJson,
    "q_src_orc" -> qSrcOrc,
    "q_src_dsv2" -> qSrcDsv2,
    "q_src_aggpush" -> qSrcAggpush,
    "q_src_spj" -> qSrcSpj,
    "q_src_stream" -> qSrcStream,
    "q_join_dpp_v2" -> qJoinDppV2,
    "q_src_columnar" -> qSrcColumnar,
    "q_udtf_gen" -> qUdtfGen,
    "q_src_partitioned" -> qSrcPartitioned,
    "q_src_avro" -> qSrcAvro,
    "q_src_avro_nested" -> qSrcAvroNested,
    "q_store_shard" -> qStoreShard,
    "q_store_manifests" -> qStoreManifests,
    "q_store_rewrite_manifests" -> qStoreRewriteManifests,
  )

  val oracleSql: Map[String, String] = Map(
    "q_store_cbo" ->
      """SELECT o_orderstatus, count(*) AS n_rows,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_catalog_sql" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // the view is late-bound: it aggregates the FULL base table (both
    // inserts), grouped by priority
    "q_catalog_view" ->
      """SELECT o_orderpriority AS pri, count(*) AS n_orders,
        | CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    // post = the RTAS content (odd %4 slice, doubled price, new schema);
    // pre = the pre-replace snapshot, still time-travelable
    "q_catalog_rtas" ->
      """WITH post AS (
        |  SELECT o_orderkey % 10 AS bucket, count(*) AS n,
        |   CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
        |   CAST(sum(CAST(o_totalprice * 2 AS DECIMAL(18,4))) AS DOUBLE) AS sum_val
        |  FROM orders WHERE o_orderkey % 4 = 1 GROUP BY 1),
        |pre AS (
        |  SELECT o_orderkey % 10 AS bucket, count(*) AS n,
        |   CAST(0 AS BIGINT) AS sum_cust,
        |   CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_val
        |  FROM orders WHERE o_orderkey % 4 = 0 GROUP BY 1)
        |SELECT 'post' AS side, * FROM post
        |UNION ALL SELECT 'pre' AS side, * FROM pre
        |ORDER BY side, bucket""".stripMargin,
    "q_sink_roundtrip" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    // the oracle recomputes BOTH snapshots from the source parquet: v1
    // must be exactly the pre-append table, current exactly the union
    "q_store_timetravel" ->
      """WITH v1 AS (
        |  SELECT 'v1' AS snap, o_orderkey % 10 AS bucket, count(*) AS n_rows,
        |   CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        |   CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |  FROM orders WHERE o_orderkey % 7 = 0 GROUP BY 2),
        |cur AS (
        |  SELECT 'current' AS snap, o_orderkey % 10 AS bucket, count(*) AS n_rows,
        |   CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        |   CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |  FROM orders WHERE o_orderkey % 7 IN (0, 1) GROUP BY 2)
        |SELECT * FROM v1 UNION ALL SELECT * FROM cur
        |ORDER BY snap, bucket""".stripMargin,
    // the tagged snapshot (v1 slice) and current table recomputed from
    // source parquet — the tag read must equal v1 exactly, post-expiry
    "q_store_tag" ->
      """WITH tg AS (
        |  SELECT 'audit-q1' AS snap, o_orderkey % 10 AS bucket, count(*) AS n_rows,
        |   CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        |   CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |  FROM orders WHERE o_orderkey % 5 = 0 GROUP BY 2),
        |cur AS (
        |  SELECT 'current' AS snap, o_orderkey % 10 AS bucket, count(*) AS n_rows,
        |   CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        |   CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |  FROM orders WHERE o_orderkey % 5 IN (0, 1, 2) GROUP BY 2)
        |SELECT * FROM tg UNION ALL SELECT * FROM cur
        |ORDER BY snap, bucket""".stripMargin,
    // every micro-batch exactly once: the full id range, no dup, no gap
    "q_stream_txn_sink" ->
      """SELECT id % 10 AS k, count(*) AS n, CAST(sum(id) AS BIGINT) AS sum_id
        |FROM (SELECT unnest(generate_series(0, 19999)) AS id)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // the co-partitioned join replayed from source parquet
    "q_store_spj" ->
      """WITH o AS (SELECT o_orderkey, o_custkey, o_totalprice,
        |  CAST(substring(o_orderpriority, 1, 1) AS INT) AS pri FROM orders),
        |c AS (SELECT o_custkey, count(*) AS n_orders, pri
        |      FROM o GROUP BY o_custkey, pri)
        |SELECT pri, count(*) AS n_pairs,
        | CAST(sum(n_orders) AS BIGINT) AS sum_cust_orders,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM o JOIN c USING (pri, o_custkey)
        |GROUP BY pri ORDER BY pri""".stripMargin,
    // the two-key co-partitioned join replayed from source parquet
    "q_store_spj_multi" ->
      """WITH o AS (SELECT o_orderkey, o_totalprice,
        |  CAST(substring(o_orderpriority, 1, 1) AS INT) AS pri,
        |  o_custkey % 4 AS rgn FROM orders),
        |r AS (SELECT pri, rgn, count(*) AS cell_orders
        |      FROM o GROUP BY pri, rgn)
        |SELECT pri, count(*) AS n_rows,
        | CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        | CAST(sum(cell_orders) AS BIGINT) AS sum_cell,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM o JOIN r USING (pri, rgn)
        |GROUP BY pri ORDER BY pri""".stripMargin,
    // AS OF v1's commit instant, the read must be exactly slice A
    "q_store_timetravel_ts" ->
      """SELECT o_orderkey % 10 AS bucket, count(*) AS n_rows,
        | CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM orders WHERE o_orderkey % 7 = 0
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // after RESTORE to v1, the current read must be exactly slice A
    "q_store_restore" ->
      """SELECT o_orderkey % 10 AS bucket, count(*) AS n_rows,
        | CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM orders WHERE o_orderkey % 7 = 0
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // after expire-snapshots the current read must be exactly slice B
    // (vacuum is content-invisible)
    "q_store_vacuum" ->
      """SELECT o_orderkey % 10 AS bucket, count(*) AS n_rows,
        | CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM orders WHERE o_orderkey % 7 = 1
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // source must still be slices {0,1}; the diverged clone {0,1,2}
    "q_store_clone" ->
      """WITH a AS (
        |  SELECT 'src' AS side, o_orderkey % 10 AS bucket, count(*) AS n_rows,
        |   CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        |   CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |  FROM orders WHERE o_orderkey % 7 IN (0, 1) GROUP BY 2),
        |b AS (
        |  SELECT 'clone' AS side, o_orderkey % 10 AS bucket, count(*) AS n_rows,
        |   CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        |   CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |  FROM orders WHERE o_orderkey % 7 IN (0, 1, 2) GROUP BY 2)
        |SELECT * FROM a UNION ALL SELECT * FROM b
        |ORDER BY side, bucket""".stripMargin,
    // the store after append + DV delete, recomputed from source — the
    // signed CDF refresh must land the MV exactly here
    "q_store_mv" ->
      """SELECT o_orderstatus,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price,
        | count(*) AS n_rows
        |FROM orders
        |WHERE o_orderkey % 4 IN (0, 1) AND NOT (o_orderkey % 9 = 0)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // full join recompute from source parquet — proves the pre-joined
    // store rollup substitution is semantically invisible
    "q_store_mv_join" ->
      """SELECT o_orderpriority,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price,
        | count(*) AS n_rows
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // full recompute over both ingest slices — equality proves the
    // watermarked refresh applied the delta exactly once
    "q_mv_txn_refresh" ->
      """SELECT o_orderstatus,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS s_price,
        | count(*) AS cnt
        |FROM orders WHERE o_orderkey % 5 IN (0, 1)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // merge-on-read (pre-purge snapshot, vectors applied) and the
    // purged clean files must BOTH be exactly the doubly-filtered slice
    "q_store_dv" ->
      """WITH t AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |  WHERE o_orderkey % 3 = 0
        |    AND NOT (o_custkey % 5 = 2)
        |    AND NOT (o_orderkey % 11 = 0)),
        |a AS (
        |  SELECT o_orderkey % 10 AS bucket, count(*) AS n_rows,
        |   CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
        |   CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |  FROM t GROUP BY 1)
        |SELECT 'dv' AS side, * FROM a
        |UNION ALL SELECT 'purged' AS side, * FROM a
        |ORDER BY side, bucket""".stripMargin,
    // published main = original slice ∪ (staged slice minus the rows
    // the audit killed: the planted negative-price % 13 rows)
    "q_store_wap" ->
      """SELECT o_orderkey % 10 AS bucket, count(*) AS n_rows,
        | CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM orders
        |WHERE o_orderkey % 5 = 0
        |   OR (o_orderkey % 5 = 1 AND o_orderkey % 13 <> 0)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // published = seed + two audited ingest cycles (corrupt %13 rows
    // killed on the branch); staged = the untouched seed snapshot
    "q_store_branch" ->
      """WITH pub AS (
        |  SELECT o_orderkey % 10 AS bucket, count(*) AS n_rows,
        |   CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        |   CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |  FROM orders
        |  WHERE o_orderkey % 5 = 0
        |     OR (o_orderkey % 5 IN (1, 2) AND o_orderkey % 13 <> 0)
        |  GROUP BY 1),
        |st AS (
        |  SELECT o_orderkey % 10 AS bucket, count(*) AS n_rows,
        |   CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        |   CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |  FROM orders WHERE o_orderkey % 5 = 0 GROUP BY 1)
        |SELECT 'published' AS side, * FROM pub
        |UNION ALL SELECT 'staged' AS side, * FROM st
        |UNION ALL SELECT 'meta:audit' AS side, CAST(-1 AS BIGINT) AS bucket,
        |  CAST((SELECT sum(n_rows) FROM pub) AS BIGINT) AS n_rows,
        |  CAST(86400000 AS BIGINT) AS sum_key, 0.0 AS sum_price
        |ORDER BY side, bucket""".stripMargin,
    // final state = max id per key over the whole stream, independent
    // of micro-batch boundaries
    "q_stream_upsert" ->
      """SELECT id % 1000 AS k, max(id) AS id
        |FROM (SELECT unnest(generate_series(0, 19999)) AS id)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // same final state through the merge-on-read write path: hash-equal
    // results prove CoW and MOR implement one streaming-MERGE semantics
    "q_stream_upsert_mor" ->
      """SELECT id % 1000 AS k, max(id) AS id
        |FROM (SELECT unnest(generate_series(0, 19999)) AS id)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // the mirror maintained purely from the change stream must converge
    // to the source: final state = seed, %3 re-keyed, %5 deleted, %7
    // re-keyed (reviving %35); both sides replay to the same aggregate
    "q_stream_mirror_eq" ->
      """WITH base AS (SELECT unnest(generate_series(0, 999)) AS k),
        |fin AS (
        |  SELECT k,
        |    CASE WHEN k % 7 = 0 THEN k + 200000
        |         WHEN k % 3 = 0 THEN k + 100000
        |         ELSE k END AS v
        |  FROM base WHERE k % 5 <> 0 OR k % 7 = 0),
        |a AS (
        |  SELECT k % 10 AS bucket, count(*) AS n_rows,
        |    CAST(sum(v) AS BIGINT) AS sum_v
        |  FROM fin GROUP BY 1)
        |SELECT 'mirror' AS side, * FROM a
        |UNION ALL SELECT 'source' AS side, * FROM a
        |ORDER BY side, bucket""".stripMargin,
    // same final state through the pure-append equality-delete path:
    // hash-equal results prove all three upsert write paths agree
    "q_stream_upsert_eq" ->
      """SELECT id % 1000 AS k, max(id) AS id
        |FROM (SELECT unnest(generate_series(0, 19999)) AS id)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // relational replay of the eq-delete lifecycle: base minus deleted
    // keys minus upserted keys, plus the upsert rows (revived % 35 keys
    // included); 'eq' = probe-path read of the pre-purge snapshot,
    // 'purged' = folded files — both must equal the same replay
    "q_store_eqdelete" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |  WHERE o_orderkey % 3 = 0),
        |fin AS (
        |  SELECT * FROM base WHERE o_orderkey % 7 <> 0 AND o_orderkey % 5 <> 0
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey + 1000000 AS o_custkey, o_totalprice
        |  FROM base WHERE o_orderkey % 5 = 0),
        |a AS (
        |  SELECT o_orderkey % 10 AS bucket, count(*) AS n_rows,
        |   CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
        |   CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |  FROM fin GROUP BY 1)
        |SELECT 'eq' AS side, * FROM a
        |UNION ALL SELECT 'purged' AS side, * FROM a
        |ORDER BY side, bucket""".stripMargin,
    // delete debt per flavor, content-determined: position = rows the
    // DV DELETE masked, equality = key tuples committed
    "q_store_deletes_meta" ->
      """SELECT 'equality' AS kind, count(*) AS n FROM orders
        | WHERE o_orderkey % 3 = 0 AND o_orderkey % 11 = 0
        |UNION ALL
        |SELECT 'position' AS kind, count(*) AS n FROM orders
        | WHERE o_orderkey % 3 = 0 AND o_orderkey % 7 = 0
        |ORDER BY kind""".stripMargin,
    // the purged snapshot is the post-DELETE content; the restored
    // current state is the full pre-delete slice
    "q_catalog_proc" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |  WHERE o_orderkey % 3 = 0),
        |p AS (
        |  SELECT o_orderkey % 10 AS bucket, count(*) AS n_rows,
        |   CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
        |   CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |  FROM base WHERE o_orderkey % 7 <> 0 GROUP BY 1),
        |r AS (
        |  SELECT o_orderkey % 10 AS bucket, count(*) AS n_rows,
        |   CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
        |   CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |  FROM base GROUP BY 1)
        |SELECT 'purged' AS side, * FROM p
        |UNION ALL SELECT 'restored' AS side, * FROM r
        |ORDER BY side, bucket""".stripMargin,
    // relational replay of the temporal-key lifecycle: base minus the
    // (user_id, day) composite delete minus the timestamp delete minus
    // the upsert's own keys, plus the upsert rows
    "q_store_eqdelete_ts" ->
      """WITH base AS (
        |  SELECT event_id, user_id, CAST(ts AS DATE) AS event_date, ts, value
        |  FROM events WHERE event_id % 2 = 0),
        |up AS (
        |  SELECT event_id, user_id + 5000 AS user_id,
        |   CAST(ts AS DATE) AS event_date, ts, value
        |  FROM events WHERE event_id % 8 = 0),
        |kept AS (
        |  SELECT b.* FROM base b
        |  WHERE NOT EXISTS (SELECT 1 FROM events e WHERE e.event_id % 10 = 0
        |     AND e.user_id = b.user_id AND CAST(e.ts AS DATE) = b.event_date)
        |   AND NOT EXISTS (SELECT 1 FROM events e WHERE e.event_id % 14 = 0
        |     AND e.ts = b.ts)
        |   AND NOT EXISTS (SELECT 1 FROM up u WHERE u.event_id = b.event_id
        |     AND u.ts = b.ts)),
        |fin AS (SELECT * FROM kept UNION ALL SELECT * FROM up)
        |SELECT user_id % 10 AS bucket, count(*) AS n_rows,
        | CAST(sum(event_id) AS BIGINT) AS sum_ev,
        | max(event_date) AS max_date, max(ts) AS max_ts,
        | CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM fin GROUP BY 1 ORDER BY bucket""".stripMargin,
    // relational replay of the change feed: v2's old images are the
    // deleted keys; v3 emits old images of the upserted keys still live
    // at v2 (% 7 survivors) plus every upsert row as an insert
    "q_store_eqdelete_cdf" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |  WHERE o_orderkey % 3 = 0),
        |ch AS (
        |  SELECT 'delete' AS change_type, CAST(2 AS BIGINT) AS commit_version,
        |         o_orderkey, o_custkey, o_totalprice
        |  FROM base WHERE o_orderkey % 7 = 0
        |  UNION ALL
        |  SELECT 'delete', CAST(3 AS BIGINT), o_orderkey, o_custkey, o_totalprice
        |  FROM base WHERE o_orderkey % 5 = 0 AND o_orderkey % 7 <> 0
        |  UNION ALL
        |  SELECT 'insert', CAST(3 AS BIGINT), o_orderkey,
        |         o_custkey + 1000000, o_totalprice
        |  FROM base WHERE o_orderkey % 5 = 0)
        |SELECT change_type, commit_version, count(*) AS n_rows,
        | CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        | CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM ch GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // the incremental diff must be EXACTLY the appended slice B
    "q_store_incremental" ->
      """SELECT o_orderkey % 10 AS bucket, count(*) AS n_rows,
        | CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM orders WHERE o_orderkey % 7 = 1
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // the metadata answer must equal the real aggregate over the
    // table's content (both fixture batches)
    "q_store_metaagg" ->
      """SELECT count(*) AS n_rows,
        | min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
        | min(o_custkey) AS min_cust, max(o_custkey) AS max_cust
        |FROM orders WHERE o_orderkey % 7 IN (0, 1)""".stripMargin,
    // the merge result must equal the same merge replayed as joins over
    // source parquet: matched & key%3=0 deleted, matched else updated,
    // unmatched source inserted, unmatched target kept
    // the SAME relational replay as q_store_merge: hash-equal results
    // prove copy-on-write and merge-on-read implement one MERGE semantics
    "q_store_merge_mor" ->
      """WITH t AS (SELECT o_orderkey, o_custkey FROM orders WHERE o_orderkey % 7 = 0),
        |s AS (SELECT o_orderkey, o_custkey FROM orders
        |      WHERE o_orderkey % 7 = 1 OR (o_orderkey % 7 = 0 AND o_orderkey % 2 = 0)),
        |merged AS (
        |  SELECT t.o_orderkey AS o_orderkey,
        |         CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_custkey + 1000000
        |              ELSE t.o_custkey END AS o_custkey
        |  FROM t LEFT JOIN s ON t.o_orderkey = s.o_orderkey
        |  WHERE s.o_orderkey IS NULL OR s.o_orderkey % 3 <> 0
        |  UNION ALL
        |  SELECT s.o_orderkey, s.o_custkey
        |  FROM s LEFT JOIN t ON s.o_orderkey = t.o_orderkey
        |  WHERE t.o_orderkey IS NULL)
        |SELECT o_orderkey % 10 AS bucket, CAST(count(*) AS BIGINT) AS n_rows,
        | CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
        | CAST(sum(o_orderkey) AS BIGINT) AS sum_key
        |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin,
    // auto-evolved MERGE: kept rows NULL-pad the new column, matched
    // rows take the source's value, inserts carry it natively
    "q_store_merge_evolve" ->
      """WITH t0 AS (SELECT o_orderkey, o_custkey FROM orders WHERE o_orderkey % 5 = 0),
        |src AS (SELECT o_orderkey, o_custkey, o_totalprice AS price FROM orders
        |        WHERE o_orderkey % 5 = 1
        |           OR (o_orderkey % 5 = 0 AND o_orderkey % 3 = 0)),
        |merged AS (
        |  SELECT t0.o_orderkey, t0.o_custkey, CAST(NULL AS DOUBLE) AS price
        |  FROM t0 LEFT JOIN src ON t0.o_orderkey = src.o_orderkey
        |  WHERE src.o_orderkey IS NULL
        |  UNION ALL
        |  SELECT src.o_orderkey, src.o_custkey, src.price
        |  FROM src)
        |SELECT o_orderkey % 4 AS bucket, count(*) AS n_rows,
        | count(price) AS n_priced,
        | CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
        | CAST(sum(CAST(price AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_store_merge" ->
      """WITH t AS (SELECT o_orderkey, o_custkey FROM orders WHERE o_orderkey % 7 = 0),
        |s AS (SELECT o_orderkey, o_custkey FROM orders
        |      WHERE o_orderkey % 7 = 1 OR (o_orderkey % 7 = 0 AND o_orderkey % 2 = 0)),
        |merged AS (
        |  SELECT t.o_orderkey AS o_orderkey,
        |         CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_custkey + 1000000
        |              ELSE t.o_custkey END AS o_custkey
        |  FROM t LEFT JOIN s ON t.o_orderkey = s.o_orderkey
        |  WHERE s.o_orderkey IS NULL OR s.o_orderkey % 3 <> 0
        |  UNION ALL
        |  SELECT s.o_orderkey, s.o_custkey
        |  FROM s LEFT JOIN t ON s.o_orderkey = t.o_orderkey
        |  WHERE t.o_orderkey IS NULL)
        |SELECT o_orderkey % 10 AS bucket, CAST(count(*) AS BIGINT) AS n_rows,
        | CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
        | CAST(sum(o_orderkey) AS BIGINT) AS sum_key
        |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin,
    // snapshot-sync replay: matched (%12) update, source-only (%4 not %3)
    // insert, target-only (%3 not %4) deletes at %5 and tombstones else
    "q_store_merge_nbs" ->
      """WITH fin AS (
        |  SELECT o_orderkey, o_custkey + 777 + 500000 AS o_custkey
        |  FROM orders WHERE o_orderkey % 3 = 0 AND o_orderkey % 4 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey + 777 FROM orders
        |  WHERE o_orderkey % 4 = 0 AND o_orderkey % 3 <> 0
        |  UNION ALL
        |  SELECT o_orderkey, -1 AS o_custkey FROM orders
        |  WHERE o_orderkey % 3 = 0 AND o_orderkey % 4 <> 0
        |    AND o_orderkey % 5 <> 0)
        |SELECT o_orderkey % 10 AS bucket, count(*) AS n_rows,
        | CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
        | CAST(sum(o_orderkey) AS BIGINT) AS sum_key
        |FROM fin GROUP BY 1 ORDER BY 1""".stripMargin,
    // UPDATE then DELETE replayed as a CASE projection then a filter
    "q_store_dml" ->
      """WITH t AS (SELECT o_orderkey, o_custkey, o_orderkey % 5 AS seg
        |           FROM orders WHERE o_orderkey % 3 = 0),
        |up AS (SELECT o_orderkey,
        |         CASE WHEN o_orderkey % 10 = 3 THEN o_custkey + 500000
        |              ELSE o_custkey END AS o_custkey, seg FROM t)
        |SELECT seg, CAST(count(*) AS BIGINT) AS n_rows,
        | CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
        | CAST(sum(o_orderkey) AS BIGINT) AS sum_key
        |FROM up WHERE o_custkey % 7 <> 2 GROUP BY 1 ORDER BY 1""".stripMargin,
    // z-ordering must be invisible to results: the same two-dim-filtered
    // aggregate computed straight from source parquet
    "q_store_zorder" ->
      """SELECT o_orderkey % 10 AS k, count(*) AS n,
        | CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM orders WHERE o_custkey <= 300 AND o_orderkey <= 15000
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // time×key z-order: the clustered rewrite must be invisible to the
    // week×key slice aggregate recomputed from source parquet
    "q_store_zorder_ts" ->
      """SELECT user_id, count(*) AS n,
        | CAST(sum(event_id) AS BIGINT) AS sum_ev,
        | CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_val
        |FROM events
        |WHERE ts::TIMESTAMP >= TIMESTAMP '2024-01-08'
        |  AND ts::TIMESTAMP < TIMESTAMP '2024-01-15' AND user_id < 40
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    // both writes land all five priorities; the partition layout makes
    // the delete exact — oracle is the complement aggregate
    "q_store_partitioned" ->
      """SELECT CAST(substring(o_orderpriority, 1, 1) AS INT) AS pri,
        | count(*) AS n_rows, CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM orders
        |WHERE CAST(substring(o_orderpriority, 1, 1) AS INT) <> 2
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // the grouped metadata answer recomputed the ordinary way from source
    // parquet — metadata-only grouping must be invisible to results
    "q_store_metaagg_group" ->
      """SELECT CAST(substring(o_orderpriority, 1, 1) AS INT) AS pri,
        | count(*) AS n_rows, count(o_custkey) AS n_cust,
        | CAST(min(o_orderkey) AS BIGINT) AS min_key,
        | CAST(max(o_orderkey) AS BIGINT) AS max_key,
        | CAST(sum(o_orderkey) AS BIGINT) AS sum_key
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    // per-partition row counts recomputed from source parquet (n_files
    // is not oracle-derivable and is pinned in GraftCatalogSpec instead)
    "q_store_partitions_meta" ->
      """SELECT 'pri=' || CAST(CAST(substring(o_orderpriority, 1, 1) AS INT) AS VARCHAR)
        |    AS "partition", count(*) AS n_rows
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    // the filtered metadata answer recomputed the ordinary way from
    // source parquet — complete filter acceptance must be invisible
    "q_store_metaagg_filtered" ->
      """SELECT count(*) AS n_rows, count(o_custkey) AS n_cust,
        | CAST(min(o_orderkey) AS BIGINT) AS min_key,
        | CAST(max(o_orderkey) AS BIGINT) AS max_key,
        | CAST(sum(o_orderkey) AS BIGINT) AS sum_key
        |FROM orders
        |WHERE CAST(substring(o_orderpriority, 1, 1) AS INT) = 2""".stripMargin,
    // the full SCD2 history reconstructed relationally from the two
    // batch definitions: v1 rows (closed at 2 iff changed), v2 rows for
    // changed keys (+100), v2 rows for brand-new keys
    "q_store_scd2" ->
      """WITH b AS (SELECT o_orderkey AS k,
        |    CAST(o_totalprice AS DECIMAL(18,4)) AS price,
        |    o_orderkey % 6 = 0 AS chg
        |  FROM orders WHERE o_orderkey % 3 = 0)
        |SELECT k, CAST(price AS DOUBLE) AS price,
        |  CAST(1 AS BIGINT) AS ver_from,
        |  CAST(CASE WHEN chg THEN 2 ELSE 0 END AS BIGINT) AS ver_to FROM b
        |UNION ALL
        |SELECT k, CAST(price + 100 AS DOUBLE), CAST(2 AS BIGINT),
        |  CAST(0 AS BIGINT) FROM b WHERE chg
        |UNION ALL
        |SELECT o_orderkey, CAST(CAST(o_totalprice AS DECIMAL(18,4)) AS DOUBLE),
        |  CAST(2 AS BIGINT), CAST(0 AS BIGINT)
        |FROM orders WHERE o_orderkey % 3 = 1
        |ORDER BY k, ver_from""".stripMargin,
    // the two-level layout must be invisible to results: the rgn-filtered
    // per-pri aggregate recomputed from source parquet
    "q_store_part_multi" ->
      """SELECT CAST(substring(o_orderpriority, 1, 1) AS INT) AS pri,
        | count(*) AS n_rows, CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM orders WHERE o_orderkey % 4 = 2
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // month-grain hidden partitioning must be invisible to results: the
    // half-year window's per-priority aggregate recomputed from parquet
    "q_store_part_months" ->
      """SELECT o_orderpriority, count(*) AS n_rows,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price,
        | min(o_orderdate) AS first_d, max(o_orderdate) AS last_d
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // year-grain hidden partitioning must be invisible to results: the
    // two-year window's per-priority aggregate recomputed from parquet
    "q_store_part_years" ->
      """SELECT o_orderpriority, count(*) AS n_rows,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price,
        | min(o_orderdate) AS first_d, max(o_orderdate) AS last_d
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // hour-grain hidden partitioning must be invisible to results: the
    // six-hour window's per-type aggregate recomputed from source parquet
    "q_store_part_hours" ->
      """SELECT event_type, count(*) AS n_rows,
        | CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
        | min(ts) AS first_ts, max(ts) AS last_ts
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-10 06:00:00'
        |  AND ts < TIMESTAMP '2024-01-10 12:00:00'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // hidden partitioning must be invisible to results: the week's
    // per-type aggregate recomputed from source parquet
    "q_store_part_days" ->
      """SELECT event_type, count(*) AS n_rows,
        | CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
        | min(ts) AS first_ts, max(ts) AS last_ts
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-08 00:00:00'
        |  AND ts < TIMESTAMP '2024-01-15 00:00:00'
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // the composite (days(ts), event_type) layout must be invisible to
    // results: the week's filtered per-type aggregate replayed from
    // source parquet
    "q_store_part_composite" ->
      """SELECT event_type, count(*) AS n_rows,
        | CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
        | min(ts) AS first_ts, max(ts) AS last_ts
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-08 00:00:00'
        |  AND ts < TIMESTAMP '2024-01-15 00:00:00'
        |  AND event_type IN ('click', 'view')
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // the co-bucketed join must be invisible to results: replayed from
    // source parquet
    "q_store_spj_bucket" ->
      """WITH c AS (SELECT o_custkey, count(*) AS n_orders FROM orders
        |           GROUP BY o_custkey)
        |SELECT o.o_custkey % 8 AS cust_band, count(*) AS n_pairs,
        |  CAST(sum(c.n_orders) AS BIGINT) AS sum_cust_orders,
        |  CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM orders o JOIN c ON o.o_custkey = c.o_custkey
        |GROUP BY o.o_custkey % 8 ORDER BY cust_band""".stripMargin,
    // the bucket layout must be invisible to results: the point lookup
    // recomputed from source parquet (keys chosen to exist across SFs
    // where present; missing keys simply match nothing on both sides)
    "q_store_part_bucket" ->
      """SELECT o_orderkey, o_custkey,
        | CAST(CAST(o_totalprice AS DECIMAL(18,4)) AS DOUBLE) AS price,
        | o_orderpriority
        |FROM orders
        |WHERE o_orderkey IN (7, 4000, 29989, 100003, 599936)
        |ORDER BY o_orderkey""".stripMargin,
    // partition evolution must be invisible to results: both slices land
    // (under different specs), the bkt filter recomputed from source
    "q_store_part_evolve" ->
      """SELECT CAST(substring(o_orderpriority, 1, 1) AS INT) AS pri,
        | count(*) AS n_rows, CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM orders WHERE o_orderkey % 8 = 3
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // the CDF-fed incremental pass replayed: gate the new slice, minhash
    // both sides, band-join batch x corpus, Jaccard-verify, anti-join
    "q_pipeline_incr" -> {
      val minhashes = (0 until 8)
        .map(j => s"min(substr(md5(s), ${4 * j + 1}, 4)) AS m$j")
        .mkString(", ")
      val bandSelects = (0 until 4)
        .map(b => s"SELECT doc_id, $b AS band, m${2 * b}||'|'||m${2 * b + 1} AS bkey FROM sig")
        .mkString(" UNION ALL ")
      s"""WITH corpus AS (SELECT doc_id, lang, text, n_chars FROM documents
         |  WHERE doc_id % 5 < 4),
         |gated AS (SELECT doc_id, lang, text, n_chars FROM documents
         |  WHERE doc_id % 5 = 4 AND n_chars >= 100
         |    AND len(string_split(text, ' ')) >= 20),
         |tok AS (SELECT doc_id, string_split(text,' ') AS ws FROM (
         |  SELECT doc_id, text FROM gated
         |  UNION ALL SELECT doc_id, text FROM corpus)),
         |sh AS (SELECT DISTINCT doc_id, s FROM (
         |  SELECT doc_id, unnest(list_transform(generate_series(1, len(ws)-2),
         |    i -> ws[i]||' '||ws[i+1]||' '||ws[i+2])) AS s FROM tok)),
         |sig AS (SELECT doc_id, $minhashes FROM sh GROUP BY doc_id),
         |bands AS ($bandSelects),
         |cands AS (SELECT DISTINCT x.doc_id AS batch_doc, y.doc_id AS corpus_doc
         |  FROM bands x JOIN bands y ON x.band = y.band AND x.bkey = y.bkey
         |   AND x.doc_id % 5 = 4 AND y.doc_id % 5 < 4),
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |inter AS (SELECT batch_doc, corpus_doc, count(*) AS i FROM cands
         |  JOIN sh sa ON sa.doc_id = batch_doc
         |  JOIN sh sb ON sb.doc_id = corpus_doc AND sa.s = sb.s
         |  GROUP BY batch_doc, corpus_doc),
         |dup AS (SELECT DISTINCT batch_doc FROM inter
         |  JOIN sizes za ON za.doc_id = batch_doc
         |  JOIN sizes zb ON zb.doc_id = corpus_doc
         |  WHERE CAST(i AS DOUBLE) / (za.n + zb.n - i) >= 0.8)
         |SELECT lang, count(*) AS n_kept,
         | CAST(sum(n_chars) AS BIGINT) AS sum_chars
         |FROM gated WHERE doc_id NOT IN (SELECT batch_doc FROM dup)
         |GROUP BY lang ORDER BY lang""".stripMargin
    },
    // the drained LIVE feed replayed: appends insert pri 1-2, the
    // metadata DELETE removes slice 2, the copy-on-write UPDATE pairs
    // slice 1's pre-image with its negated post-image, OPTIMIZE silent
    "q_pipeline_incr_stored" -> {
      val minhashes = (0 until 8)
        .map(j => s"min(substr(md5(s), ${4 * j + 1}, 4)) AS m$j")
        .mkString(", ")
      val bandSelects = (0 until 4)
        .map(b => s"SELECT doc_id, $b AS band, m${2 * b}||'|'||m${2 * b + 1} AS bkey FROM sig")
        .mkString(" UNION ALL ")
      s"""WITH corpus AS (SELECT doc_id, lang, text, n_chars FROM documents
         |  WHERE doc_id % 5 < 4),
         |gated AS (SELECT doc_id, lang, text, n_chars FROM documents
         |  WHERE doc_id % 5 = 4 AND n_chars >= 100
         |    AND len(string_split(text, ' ')) >= 20),
         |tok AS (SELECT doc_id, string_split(text,' ') AS ws FROM (
         |  SELECT doc_id, text FROM gated
         |  UNION ALL SELECT doc_id, text FROM corpus)),
         |sh AS (SELECT DISTINCT doc_id, s FROM (
         |  SELECT doc_id, unnest(list_transform(generate_series(1, len(ws)-2),
         |    i -> ws[i]||' '||ws[i+1]||' '||ws[i+2])) AS s FROM tok)),
         |sig AS (SELECT doc_id, $minhashes FROM sh GROUP BY doc_id),
         |bands AS ($bandSelects),
         |cands AS (SELECT DISTINCT x.doc_id AS batch_doc, y.doc_id AS corpus_doc
         |  FROM bands x JOIN bands y ON x.band = y.band AND x.bkey = y.bkey
         |   AND x.doc_id % 5 = 4 AND y.doc_id % 5 < 4),
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |inter AS (SELECT batch_doc, corpus_doc, count(*) AS i FROM cands
         |  JOIN sh sa ON sa.doc_id = batch_doc
         |  JOIN sh sb ON sb.doc_id = corpus_doc AND sa.s = sb.s
         |  GROUP BY batch_doc, corpus_doc),
         |dup AS (SELECT DISTINCT batch_doc FROM inter
         |  JOIN sizes za ON za.doc_id = batch_doc
         |  JOIN sizes zb ON zb.doc_id = corpus_doc
         |  WHERE CAST(i AS DOUBLE) / (za.n + zb.n - i) >= 0.8)
         |SELECT lang, count(*) AS n_kept,
         | CAST(sum(n_chars) AS BIGINT) AS sum_chars
         |FROM gated WHERE doc_id NOT IN (SELECT batch_doc FROM dup)
         |GROUP BY lang ORDER BY lang""".stripMargin
    },
    // the drained LIVE feed replayed: appends insert pri 1-2, the
    // metadata DELETE removes slice 2, the copy-on-write UPDATE pairs
    // slice 1's pre-image with its negated post-image, OPTIMIZE silent
    "q_stream_cdf" ->
      """WITH o AS (SELECT o_orderkey, o_totalprice,
        |             CAST(substring(o_orderpriority, 1, 1) AS INT) AS pri
        |           FROM orders),
        |base AS (SELECT pri, CAST(count(*) AS BIGINT) AS n,
        |           CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        |           CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |         FROM o WHERE pri <= 2 GROUP BY pri)
        |SELECT CAST(pri AS BIGINT) AS _commit_version,
        |       'insert' AS _change_type, pri, n, sum_key, sum_price
        |FROM base
        |UNION ALL
        |SELECT CAST(3 AS BIGINT), 'delete', pri, n, sum_key, sum_price
        |FROM base WHERE pri = 2
        |UNION ALL
        |SELECT CAST(4 AS BIGINT), 'delete', pri, n, sum_key, sum_price
        |FROM base WHERE pri = 1
        |UNION ALL
        |SELECT CAST(4 AS BIGINT), 'insert', pri, n, sum_key, -sum_price
        |FROM base WHERE pri = 1
        |ORDER BY _commit_version, _change_type, pri""".stripMargin,
    // the change feed replayed commit-by-commit: appends v1..v3 insert
    // each pri slice, the metadata DELETE deletes slice 2, the
    // copy-on-write UPDATE deletes slice 3 and re-inserts it negated,
    // and the trailing OPTIMIZE contributes no rows at all
    "q_store_cdf" ->
      """WITH o AS (SELECT o_orderkey, o_totalprice,
        |             CAST(substring(o_orderpriority, 1, 1) AS INT) AS pri
        |           FROM orders),
        |base AS (SELECT pri, CAST(count(*) AS BIGINT) AS n,
        |           CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        |           CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |         FROM o WHERE pri <= 3 GROUP BY pri)
        |SELECT CAST(pri AS BIGINT) AS _commit_version,
        |       'insert' AS _change_type, pri, n, sum_key, sum_price
        |FROM base
        |UNION ALL
        |SELECT CAST(4 AS BIGINT), 'delete', pri, n, sum_key, sum_price
        |FROM base WHERE pri = 2
        |UNION ALL
        |SELECT CAST(5 AS BIGINT), 'delete', pri, n, sum_key, sum_price
        |FROM base WHERE pri = 3
        |UNION ALL
        |SELECT CAST(5 AS BIGINT), 'insert', pri, n, sum_key, -sum_price
        |FROM base WHERE pri = 3
        |ORDER BY _commit_version, _change_type, pri""".stripMargin,
    // the TVF door reads the SAME feed as the option door: identical
    // content-determined union (fixture replays q_store_cdf's lifecycle)
    "q_store_cdf_sql" ->
      """WITH o AS (SELECT o_orderkey, o_totalprice,
        |             CAST(substring(o_orderpriority, 1, 1) AS INT) AS pri
        |           FROM orders),
        |base AS (SELECT pri, CAST(count(*) AS BIGINT) AS n,
        |           CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        |           CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |         FROM o WHERE pri <= 3 GROUP BY pri)
        |SELECT CAST(pri AS BIGINT) AS _commit_version,
        |       'insert' AS _change_type, pri, n, sum_key, sum_price
        |FROM base
        |UNION ALL
        |SELECT CAST(4 AS BIGINT), 'delete', pri, n, sum_key, sum_price
        |FROM base WHERE pri = 2
        |UNION ALL
        |SELECT CAST(5 AS BIGINT), 'delete', pri, n, sum_key, sum_price
        |FROM base WHERE pri = 3
        |UNION ALL
        |SELECT CAST(5 AS BIGINT), 'insert', pri, n, sum_key, -sum_price
        |FROM base WHERE pri = 3
        |ORDER BY _commit_version, _change_type, pri""".stripMargin,
    // timestamp boundaries bracket versions 4..5: the same feed's tail
    "q_store_cdf_sql_ts" ->
      """WITH o AS (SELECT o_orderkey, o_totalprice,
        |             CAST(substring(o_orderpriority, 1, 1) AS INT) AS pri
        |           FROM orders),
        |base AS (SELECT pri, CAST(count(*) AS BIGINT) AS n,
        |           CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        |           CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |         FROM o WHERE pri <= 3 GROUP BY pri)
        |SELECT CAST(4 AS BIGINT) AS _commit_version,
        |       'delete' AS _change_type, pri, n, sum_key, sum_price
        |FROM base WHERE pri = 2
        |UNION ALL
        |SELECT CAST(5 AS BIGINT), 'delete', pri, n, sum_key, sum_price
        |FROM base WHERE pri = 3
        |UNION ALL
        |SELECT CAST(5 AS BIGINT), 'insert', pri, n, sum_key, -sum_price
        |FROM base WHERE pri = 3
        |ORDER BY _commit_version, _change_type, pri""".stripMargin,
    // bloom skipping must be invisible to results: same filtered
    // aggregate straight from source parquet
    "q_store_bloomskip" ->
      """SELECT c_mktsegment, count(*) AS n_custs, CAST(sum(c_custkey) AS BIGINT) AS sum_key,
        | CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_bal
        |FROM customer WHERE c_mktsegment = 'BUILDING'
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    // pre-ALTER rows surface NULL in the appended column; post-ALTER
    // rows carry real values — the oracle splices the same union
    "q_store_evolution" ->
      """SELECT s_suppkey, s_nationkey, CAST(NULL AS DOUBLE) AS s_acctbal
        |FROM supplier WHERE s_suppkey % 2 = 0
        |UNION ALL
        |SELECT s_suppkey, s_nationkey, s_acctbal
        |FROM supplier WHERE s_suppkey % 2 = 1
        |ORDER BY s_suppkey""".stripMargin,
    // nested evolution: pre-ADD rows surface NULL in the appended
    // SUBFIELD, post-ADD rows carry real values, and the renamed
    // subfield reads under its new name — spliced as the same union
    "q_store_evolve_nested" ->
      """SELECT s_suppkey, s_nationkey AS nat,
        | CAST(s_acctbal AS DOUBLE) AS bal, CAST(NULL AS VARCHAR) AS seg
        |FROM supplier WHERE s_suppkey % 2 = 0
        |UNION ALL
        |SELECT s_suppkey, s_nationkey AS nat,
        | CAST(s_acctbal AS DOUBLE) AS bal, 'n' || s_nationkey AS seg
        |FROM supplier WHERE s_suppkey % 2 = 1
        |ORDER BY s_suppkey""".stripMargin,
    // widen->drop->add replay: evens are pre-evolution bytes (long bal
    // converted to double, dropped nation skipped, grade NULL-padded),
    // odds carry the final struct natively
    "q_store_evolve_nested2" ->
      """SELECT s_suppkey, CAST(s_suppkey * 3 AS DOUBLE) AS bal,
        | 'n' || s_nationkey AS seg, CAST(NULL AS VARCHAR) AS grade
        |FROM supplier WHERE s_suppkey % 2 = 0
        |UNION ALL
        |SELECT s_suppkey, CAST(s_suppkey AS DOUBLE) * 2.5 AS bal,
        | 'n' || s_nationkey AS seg, 'g' || (s_suppkey % 3) AS grade
        |FROM supplier WHERE s_suppkey % 2 = 1
        |ORDER BY s_suppkey""".stripMargin,
    // rename + widen replay: evens keep their keys, odds arrive after
    // the widen with keys beyond Int range
    "q_store_evolve_widen2" ->
      """WITH evens AS (
        |  SELECT CAST(s_suppkey AS DOUBLE) AS k,
        |    round(CAST(CAST(s_acctbal AS FLOAT) AS DOUBLE), 2) AS balr
        |  FROM supplier WHERE s_suppkey % 2 = 0),
        |odds AS (
        |  SELECT CAST(s_suppkey AS DOUBLE) + 0.5 AS k,
        |    round(CAST(CAST(s_acctbal AS FLOAT) AS DOUBLE), 2) AS balr
        |  FROM supplier WHERE s_suppkey % 2 = 1),
        |allr AS (SELECT * FROM evens UNION ALL SELECT * FROM odds)
        |SELECT 'final' AS side, CAST(-1 AS BIGINT) AS grp,
        |  count(*) AS n,
        |  CAST(sum(CAST(k AS DECIMAL(18,4))) AS DOUBLE) AS sum_k,
        |  CAST(sum(CAST(balr AS DECIMAL(18,4))) AS DOUBLE) AS sum_bal
        |FROM allr
        |UNION ALL
        |SELECT 'cdf' AS side, CAST(1 AS BIGINT) AS grp, count(*) AS n,
        |  CAST(sum(CAST(k AS DECIMAL(18,4))) AS DOUBLE) AS sum_k,
        |  CAST(sum(CAST(balr AS DECIMAL(18,4))) AS DOUBLE) AS sum_bal
        |FROM evens
        |UNION ALL
        |SELECT 'cdf' AS side, CAST(5 AS BIGINT) AS grp, count(*) AS n,
        |  CAST(sum(CAST(k AS DECIMAL(18,4))) AS DOUBLE) AS sum_k,
        |  CAST(sum(CAST(balr AS DECIMAL(18,4))) AS DOUBLE) AS sum_bal
        |FROM odds
        |ORDER BY side, grp""".stripMargin,
    "q_store_evolve_rename" ->
      """WITH fin AS (
        |  SELECT s_suppkey AS k, s_nationkey AS nation, s_acctbal
        |  FROM supplier WHERE s_suppkey % 2 = 0
        |  UNION ALL
        |  SELECT s_suppkey + 3000000000, s_nationkey, s_acctbal
        |  FROM supplier WHERE s_suppkey % 2 = 1)
        |SELECT nation, count(*) AS n_sup,
        | CAST(sum(k) AS BIGINT) AS sum_key,
        | CAST(sum(CAST(s_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_bal
        |FROM fin GROUP BY nation ORDER BY nation""".stripMargin,
    // the drained tail must equal the full table content exactly once
    "q_stream_tail" ->
      """SELECT o_orderkey % 10 AS bucket, count(*) AS n_rows,
        | CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM orders WHERE o_orderkey % 7 IN (0, 1)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // snapshot row counts are content-determined: v1 = slice A
    // (overwrite), v2 = A+B (append); ops are fixed by the fixture
    "q_store_history" ->
      """SELECT CAST(1 AS BIGINT) AS version, count(*) AS n_rows,
        | 'overwrite' AS op
        |FROM orders WHERE o_orderkey % 7 = 0
        |UNION ALL
        |SELECT CAST(2 AS BIGINT) AS version, count(*) AS n_rows,
        | 'append' AS op
        |FROM orders WHERE o_orderkey % 7 IN (0, 1)
        |ORDER BY version""".stripMargin,
    // age-based expiry: v1 (3 days old) expired by the 1.5-day policy,
    // v2 survived via its tag (and still READS — its files survived
    // GC), v3/v4 young; every row count is content-determined
    "q_store_expire_age" ->
      """SELECT 'history' AS part, CAST(2 AS BIGINT) AS version,
        | count(*) AS n_rows
        |FROM orders WHERE o_orderkey % 5 IN (0, 1)
        |UNION ALL
        |SELECT 'history' AS part, CAST(3 AS BIGINT) AS version,
        | count(*) AS n_rows
        |FROM orders WHERE o_orderkey % 5 IN (0, 1, 2)
        |UNION ALL
        |SELECT 'history' AS part, CAST(4 AS BIGINT) AS version,
        | count(*) AS n_rows
        |FROM orders WHERE o_orderkey % 5 IN (0, 1, 2, 3)
        |UNION ALL
        |SELECT 'tagged_read' AS part, CAST(2 AS BIGINT) AS version,
        | count(*) AS n_rows
        |FROM orders WHERE o_orderkey % 5 IN (0, 1)
        |UNION ALL
        |SELECT 'current_read' AS part, CAST(4 AS BIGINT) AS version,
        | count(*) AS n_rows
        |FROM orders WHERE o_orderkey % 5 IN (0, 1, 2, 3)
        |ORDER BY part, version""".stripMargin,
    // content-invisibility of OPTIMIZE: the post-compaction read must
    // equal the aggregate computed straight from the source parquet
    "q_store_optimize" ->
      """SELECT l_returnflag, count(*) AS n_rows, CAST(sum(l_orderkey) AS BIGINT) AS sum_key,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    // scoped compaction must be invisible to results: the same sliced
    // aggregate straight from source parquet
    "q_store_optimize_where" ->
      """SELECT CAST(substring(o_orderpriority, 1, 1) AS BIGINT) AS pri,
        | count(*) AS n, CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM orders WHERE substring(o_orderpriority, 1, 1) IN ('1','2','3')
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // streaming restatement: each cell converges to its LAST delivery —
    // cell 0 = ids 12288..16383 (batch 3 replaced batch 0), cell 1 =
    // 16384..20479 (batch 4 replaced batch 1), cell 2 = 8192..12287
    "q_stream_restate" ->
      """WITH f AS (
        |  SELECT unnest(range(12288, 16384)) AS id, CAST(0 AS BIGINT) AS cell
        |  UNION ALL
        |  SELECT unnest(range(16384, 20480)), CAST(1 AS BIGINT)
        |  UNION ALL
        |  SELECT unnest(range(8192, 12288)), CAST(2 AS BIGINT))
        |SELECT cell, count(*) AS n, CAST(sum(id) AS BIGINT) AS sum_id,
        | round(sum(CAST(id * 37 % 1000 AS DOUBLE)), 4) AS sum_val,
        | min(id) AS lo, max(id) AS hi
        |FROM f GROUP BY cell ORDER BY cell""".stripMargin,
    // keyed-slice restatement converges to the LAST delivery per group
    // (same cycle as the partition form: groups 0,1 re-delivered)
    "q_stream_restate_pred" ->
      """WITH f AS (
        |  SELECT unnest(range(12288, 16384)) AS id, CAST(0 AS BIGINT) AS grp
        |  UNION ALL
        |  SELECT unnest(range(16384, 20480)), CAST(1 AS BIGINT)
        |  UNION ALL
        |  SELECT unnest(range(8192, 12288)), CAST(2 AS BIGINT))
        |SELECT grp, count(*) AS n, CAST(sum(id) AS BIGINT) AS sum_id,
        | round(sum(CAST(id * 37 % 1000 AS DOUBLE)), 4) AS sum_val,
        | min(id) AS lo, max(id) AS hi
        |FROM f GROUP BY grp ORDER BY grp""".stripMargin,
    // CHECK constraint lifecycle: the conforming insert is the whole
    // content (the violating one refused — counted), so the aggregate
    // replays from source parquet with violations_refused pinned to 1
    "q_store_check" ->
      """SELECT CAST(substring(o_orderpriority, 1, 1) AS INT) AS pri,
        | count(*) AS n_rows,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price,
        | CAST(1 AS BIGINT) AS violations_refused
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    // static replace-where: partition 2 replaced WHOLESALE by its even
    // keys with negated price; every other partition untouched
    "q_store_replace_where" ->
      """WITH o AS (SELECT o_orderkey, o_totalprice,
        |             CAST(substring(o_orderpriority, 1, 1) AS INT) AS pri
        |           FROM orders),
        |m AS (SELECT o_orderkey, o_totalprice, pri FROM o WHERE pri <> 2
        |      UNION ALL
        |      SELECT o_orderkey, -o_totalprice, 2 AS pri FROM o
        |      WHERE pri = 2 AND o_orderkey % 2 = 0)
        |SELECT pri, count(*) AS n_rows,
        | CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM m GROUP BY pri ORDER BY pri""".stripMargin,
    // dynamic overwrite: partitions 2/3 restated (even keys, negated
    // price), every other partition untouched
    "q_store_insert_overwrite" ->
      """WITH o AS (SELECT o_orderkey, o_totalprice,
        |             CAST(substring(o_orderpriority, 1, 1) AS INT) AS pri
        |           FROM orders),
        |m AS (SELECT o_orderkey, o_totalprice, pri FROM o
        |      WHERE pri NOT IN (2, 3)
        |      UNION ALL
        |      SELECT o_orderkey, -o_totalprice, pri FROM o
        |      WHERE pri IN (2, 3) AND o_orderkey % 2 = 0)
        |SELECT pri, count(*) AS n_rows,
        | CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM m GROUP BY pri ORDER BY pri""".stripMargin,
    // the sorted rewrite is a permutation: the post-OPTIMIZE read must
    // equal the aggregate computed straight from the source parquet
    "q_store_optimize_sort" ->
      """SELECT l_returnflag, count(*) AS n_rows, CAST(sum(l_orderkey) AS BIGINT) AS sum_key,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "q_src_binaryfile" ->
      """SELECT 'doc_' || doc_id || '.bin' AS fname,
        | octet_length(CAST(text AS BLOB)) AS flen,
        | md5(hex(CAST(text AS BLOB))) AS h
        |FROM documents WHERE doc_id % 100 = 0
        |ORDER BY fname""".stripMargin,
    "q_src_evolution" ->
      """WITH m AS (
        |  SELECT c_custkey, c_acctbal, CAST(NULL AS VARCHAR) AS seg
        |  FROM customer WHERE c_custkey % 2 = 0
        |  UNION ALL
        |  SELECT c_custkey, c_acctbal, c_mktsegment
        |  FROM customer WHERE c_custkey % 2 <> 0)
        |SELECT seg AS c_mktsegment, count(*) AS n_custs,
        | CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_bal
        |FROM m GROUP BY seg ORDER BY seg NULLS FIRST""".stripMargin,
    "q_src_text" ->
      """SELECT s_nationkey, count(*) AS n_supps,
        | CAST(sum(CAST(s_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_bal
        |FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin,
    "q_join_dpp" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS o_year, count(*) AS n_orders,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM orders WHERE year(o_orderdate) IN (2000, 2001)
        |GROUP BY o_year ORDER BY o_year""".stripMargin,
    "q_src_jdbc" ->
      """SELECT s_suppkey, s_name, s_nationkey, s_acctbal
        |FROM supplier WHERE s_acctbal > 0
        |ORDER BY s_suppkey""".stripMargin,
    "q_src_csv" ->
      """SELECT s_nationkey, count(*) AS n_supps,
        | CAST(sum(CAST(s_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_bal
        |FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin,
    "q_src_json" ->
      """SELECT c_mktsegment, count(*) AS n_custs,
        | CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_bal
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q_src_dsv2" ->
      """SELECT CAST(id % 50 AS INT) AS bucket, count(*) AS n,
        | sum(CAST(id * 37 % 1000 AS DOUBLE)) AS sum_val
        |FROM (SELECT unnest(generate_series(1000, 59999)) AS id)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_src_aggpush" ->
      """SELECT CAST(id % 50 AS INT) AS bucket, count(*) AS n,
        | sum(CAST(id * 37 % 1000 AS DOUBLE)) AS sum_val,
        | min(id) AS min_id, max(id) AS max_id
        |FROM (SELECT unnest(generate_series(5000, 149999)) AS id)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_src_spj" ->
      """WITH a AS (
        |  SELECT CAST(id % 50 AS INT) AS bucket,
        |   CAST(id * 37 % 1000 AS DOUBLE) AS a_val
        |  FROM (SELECT unnest(generate_series(0, 2499)) AS id)),
        |b AS (
        |  SELECT CAST(id % 50 AS INT) AS bucket,
        |   CAST(id * 37 % 1000 AS DOUBLE) AS b_val
        |  FROM (SELECT unnest(generate_series(1000, 4999)) AS id))
        |SELECT a.bucket, count(*) AS n, sum(a_val * b_val) AS sum_prod
        |FROM a JOIN b USING (bucket)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_stream_sink" ->
      """SELECT id % 10 AS k, count(*) AS n,
        | CAST(sum(id) AS BIGINT) AS sum_id,
        | round(sum(CAST(id * 37 % 1000 AS DOUBLE)), 4) AS sum_val
        |FROM (SELECT unnest(generate_series(0, 19999)) AS id)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // the streamed-then-pruned partitioned tail: cells 0..2 only
    "q_stream_sink_part" ->
      """SELECT id % 8 AS cell, count(*) AS n,
        | CAST(sum(id) AS BIGINT) AS sum_id,
        | round(sum(CAST(id * 37 % 1000 AS DOUBLE)), 4) AS sum_val
        |FROM (SELECT unnest(generate_series(0, 19999)) AS id)
        |WHERE id % 8 < 3
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // staged = the seed only (stream epochs isolated on the branch);
    // published = seed + the whole stream, after one fast-forward
    "q_stream_sink_branch" ->
      """WITH seed AS (
        |  SELECT unnest(generate_series(100000, 100499)) AS id),
        |allrows AS (
        |  SELECT id FROM seed
        |  UNION ALL SELECT unnest(generate_series(0, 19999)) AS id),
        |p AS (
        |  SELECT id % 10 AS k, count(*) AS n,
        |   CAST(sum(id) AS BIGINT) AS sum_id,
        |   round(sum(CAST(id * 37 % 1000 AS DOUBLE)), 4) AS sum_val
        |  FROM allrows GROUP BY 1),
        |st AS (
        |  SELECT id % 10 AS k, count(*) AS n,
        |   CAST(sum(id) AS BIGINT) AS sum_id,
        |   round(sum(CAST(id * 37 % 1000 AS DOUBLE)), 4) AS sum_val
        |  FROM seed GROUP BY 1)
        |SELECT 'published' AS side, * FROM p
        |UNION ALL SELECT 'staged' AS side, * FROM st
        |ORDER BY side, k""".stripMargin,
    "q_src_skipping" ->
      """SELECT o_orderkey % 10 AS k, count(*) AS n,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM orders WHERE o_orderkey <= 6000
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_etl_delete" ->
      """SELECT CAST(substr(o_orderpriority, 1, 1) AS INT) AS pri,
        | count(*) AS n,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM orders
        |WHERE CAST(substr(o_orderpriority, 1, 1) AS INT) <> 2
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_src_columnar" ->
      """SELECT CAST(id % 50 AS INT) AS bucket, count(*) AS n,
        | avg(CAST(id * 37 % 1000 AS DOUBLE)) AS avg_val,
        | CAST(sum(id) AS BIGINT) AS sum_id
        |FROM (SELECT unnest(generate_series(1000, 149999)) AS id)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_join_dpp_v2" ->
      """SELECT n_name, count(*) AS n,
        | sum(CAST(id * 37 % 1000 AS DOUBLE)) AS sum_val
        |FROM (SELECT unnest(generate_series(0, 99999)) AS id)
        |JOIN nation ON CAST(id % 50 AS INT) = n_nationkey
        |WHERE n_regionkey = 2
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_src_stream" ->
      """SELECT CAST(id % 50 AS INT) AS bucket, count(*) AS n,
        | sum(CAST(id * 37 % 1000 AS DOUBLE)) AS sum_val, max(id) AS max_id
        |FROM (SELECT unnest(generate_series(0, 19999)) AS id)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_src_orc" ->
      """SELECT p_brand, count(*) AS n_parts,
        | CAST(sum(CAST(p_retailprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM part WHERE p_size >= 10
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "q_src_avro" ->
      """SELECT c_nationkey, count(*) AS n_custs,
        | CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_bal
        |FROM customer WHERE c_acctbal > 0.0
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,
    "q_store_shard" ->
      """WITH base AS (SELECT CAST(o_orderkey % 8 AS INT) AS cell,
        |    o_orderkey, o_totalprice FROM orders),
        |app AS (SELECT cell, o_orderkey + 1000000 AS o_orderkey,
        |    o_totalprice FROM base WHERE cell = 3),
        |t AS (SELECT * FROM base UNION ALL SELECT * FROM app)
        |SELECT cell, count(*) AS n_rows,
        | CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM t WHERE cell IN (2, 3) GROUP BY cell ORDER BY cell""".stripMargin,
    "q_store_manifests" ->
      """WITH base AS (SELECT CAST(o_orderkey % 8 AS INT) AS cell FROM orders),
        |t AS (SELECT cell FROM base
        |      UNION ALL SELECT cell FROM base WHERE cell = 3)
        |SELECT 'c:cell=' || CAST(cell AS VARCHAR) AS cell,
        | count(*) AS n_rows, TRUE AS chunked
        |FROM t GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_store_rewrite_manifests" ->
      """WITH base AS (SELECT CAST(o_orderkey % 4 AS INT) AS cell,
        |    o_orderkey, o_totalprice FROM orders),
        |t AS (SELECT * FROM base
        |  UNION ALL SELECT cell, o_orderkey + 10000000, o_totalprice FROM base
        |  UNION ALL SELECT cell, o_orderkey + 20000000, o_totalprice FROM base
        |  UNION ALL SELECT cell, o_orderkey + 30000000, o_totalprice FROM base)
        |SELECT 'c:cell=' || CAST(cell AS VARCHAR) AS cell,
        | count(*) AS n_rows,
        | CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price,
        | TRUE AS regrouped
        |FROM t GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_src_avro_nested" ->
      """WITH e AS (SELECT vec_id, label,
        |   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb,
        |   CAST(len(embedding) AS INT) AS dim
        |  FROM embeddings)
        |SELECT vec_id, label, dim, CAST(label AS BIGINT) AS lbl_tag,
        | round(list_sum(list_transform(generate_series(1,64),
        |   i -> emb[i]*emb[i])), 4) AS norm2
        |FROM e ORDER BY vec_id""".stripMargin,
    "q_src_partitioned" ->
      """SELECT o_orderpriority, count(*) AS n_orders,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM orders WHERE year(o_orderdate) = 1997
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_udtf_gen" ->
      """WITH tok AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
        |sh AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(ws)-2),
        |  i -> ws[i]||' '||ws[i+1]||' '||ws[i+2])) AS shingle FROM tok)
        |SELECT shingle, count(*) AS n FROM sh
        |GROUP BY shingle ORDER BY n DESC, shingle LIMIT 10""".stripMargin,
  )
}
