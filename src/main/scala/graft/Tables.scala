package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Loader for the driver-generated testdata tables (TESTDATA.md).
  *
  * The generator regenerates the parquet between rounds and has changed
  * physical encodings before: `events.ts` has shipped BOTH as INT64
  * TIMESTAMP(NANOS) (which Spark's reader only accepts as a raw
  * nanosecond long under `legacy.parquet.nanosAsLong`) and as plain
  * TIMESTAMP micros — the round-5→6 flip crashed every events-table
  * query. The loader therefore trusts NO encoding: every table reads
  * through the nanos-refusal fallback, and every column is conformed to
  * the canonical engine-facing type by branching on the POST-READ type —
  * exact integral/fractional/array-element/timestamp coercions load
  * transparently, anything else fails with one loud message naming the
  * table and column instead of ten vanished query families. */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
  )

  /** Fact tables worth redistributing when the scan under-splits; the five
    * dimension tables stay scan-shaped (they broadcast anyway). customer
    * was A/B-tested into this set and REVERTED: it fixed the serialized
    * dd_entity_blocking verify stage (4.6→1.7 s) but taxed every query
    * that broadcasts customer (q3 1.3→1.7 s, j5 0.33→0.75 s) with an
    * exchange below the broadcast — the parallelism fix lives inside
    * blockedFuzzyPairs instead, where the work actually fans out. */
  private val factTables = Set("orders", "lineitem", "events", "documents", "embeddings")

  /** The engine-facing column types every registered query (and the six
    * native vector/text kernels, which type-check their inputs) was
    * written against — the generation the 156 oracles are green on. A
    * regenerated file may flip widths/units; [[conform]] casts back. */
  private val canonical: Map[String, Seq[(String, DataType)]] = Map(
    "region" -> Seq("r_regionkey" -> IntegerType, "r_name" -> StringType),
    "nation" -> Seq("n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType),
    "customer" -> Seq("c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
      "c_mktsegment" -> StringType),
    "supplier" -> Seq("s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
    "part" -> Seq("p_partkey" -> LongType, "p_name" -> StringType,
      "p_brand" -> StringType, "p_type" -> StringType,
      "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
    "orders" -> Seq("o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampType, "o_orderpriority" -> StringType),
    "lineitem" -> Seq("l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
      "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampType),
    "events" -> Seq("event_id" -> LongType, "ts" -> TimestampType,
      "user_id" -> LongType, "event_type" -> StringType,
      "value" -> DoubleType, "props" -> StringType),
    "documents" -> Seq("doc_id" -> LongType, "text" -> StringType,
      "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType),
    "embeddings" -> Seq("vec_id" -> LongType,
      "embedding" -> ArrayType(FloatType), "label" -> IntegerType),
  )

  /** Estimated scan split count from the file listing alone — a pure
    * metadata probe (the previous `df.rdd.getNumPartitions` forced a
    * plan->RDD conversion on every fact-table load). Mirrors Spark's own
    * split sizing (`FilePartition.maxSplitBytes`): maxSplitBytes =
    * min(maxPartitionBytes, max(openCostInBytes, totalBytes/parallelism)),
    * so a single 100 MB file on 32 cores estimates ~25 splits (as the real
    * scan yields), not 1 — without the shrink-to-parallelism term the
    * guard would bolt a full-table repartition onto healthy scans. */
  private def estimatedSplits(spark: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val conf = spark.sessionState.conf
    val it = fs.listFiles(p, true)
    val sizes = scala.collection.mutable.ArrayBuffer[Long]()
    while (it.hasNext) {
      val f = it.next()
      val n = f.getPath.getName
      if (f.isFile && !n.startsWith("_") && !n.startsWith(".")) sizes += f.getLen
    }
    val openCost = conf.filesOpenCostInBytes
    val totalBytes = sizes.map(_ + openCost).sum
    val bytesPerCore = totalBytes / math.max(1, spark.sparkContext.defaultParallelism)
    val maxSplit = math.max(1L,
      math.min(conf.filesMaxPartitionBytes, math.max(openCost, bytesPerCore)))
    sizes.map(s => math.max(1L, (s + maxSplit - 1) / maxSplit)).sum
  }

  /** Scale-aware parallelism guard. The driver's test parquet has a SINGLE
    * row group per file, so a scan yields one input split no matter the
    * split config, serializing every CPU-heavy projection above it (the
    * shingle/minhash family most of all). When the scan's split count sits
    * far below the cluster parallelism, redistribute once — a few MB of
    * shuffle here, and Catalyst still pushes filters and column pruning
    * BELOW the exchange (verified in plan: PushedFilters on the scan, then
    * Exchange). On production inputs (many row groups / many files) splits
    * >= parallelism, so this is a no-op and plans stay pure scans. */
  /** Per-table high-cardinality spread key for the parallelism guard:
    * hash repartitioning on a deterministic unique key avoids round-
    * robin's sort-before-repartition pass (SPARK-23207: keyless
    * repartition first locally sorts its input so retries reproduce the
    * assignment; a deterministic hash key needs no such sort — guide
    * §2.5's "derive the synthetic key deterministically"). */
  private val spreadKey: Map[String, String] = Map(
    "orders" -> "o_orderkey", "lineitem" -> "l_orderkey",
    "events" -> "event_id", "documents" -> "doc_id", "embeddings" -> "vec_id")

  /** Default guard policy (r14 measured, 3-repeat steady-state A/B over
    * each table's consumer families):
    *  - documents/embeddings: KEY — their consumers are CPU-dense per row
    *    (shingle/minhash explodes, 64-dim vector kernels); a serialized
    *    scan starves 32 cores (txt_distinct_ngrams 1.2 s key vs 4.7 s
    *    off, sim_reciprocal_nn 1.3 vs 12.1).
    *  - lineitem/orders: KEY — the wide partial aggregations (q1/a16/a18
    *    decimal sums) still want the fan-out (0.9-1.2 s key vs 1.5-1.9 s
    *    off) and key beats round-robin everywhere (no sort pass:
    *    basket 21.9 s key vs 31.2 s round-robin).
    *  - events: NONE — every consumer measured faster without the guard
    *    (e_funnel 0.7 s off vs 1.6 s; window/sessionization plans
    *    re-shuffle by their own keys immediately anyway).
    * Env override SPARK_GRAFT_SCAN_REPART: "on" (round-robin everywhere),
    * "key", "off", or a comma list of tables to run in key mode. */
  private val defaultKeyTables = Set("documents", "embeddings", "lineitem", "orders")

  private def withScanParallelism(
      spark: SparkSession, path: String, name: String, df: DataFrame): DataFrame = {
    val target = spark.sparkContext.defaultParallelism
    val mode = sys.env.getOrElse("SPARK_GRAFT_SCAN_REPART", "default")
    val (enabled, roundRobin) = mode match {
      case "on" => (true, true)
      case "key" => (true, false)
      case "off" => (false, false)
      case "default" => (defaultKeyTables(name), false)
      case list => (list.split(",").contains(name), false)
    }
    if (!enabled || estimatedSplits(spark, path) * 2 >= target) df
    else if (roundRobin) df.repartition(target)
    else df.repartition(target, pmod(xxhash64(col(spreadKey(name))), lit(target * 64)))
  }

  /** True when the read failed because of an unsupported TIMESTAMP(NANOS)
    * parquet column (Spark's refusal message names the NANOS unit). */
  private def isNanosRefusal(e: Throwable): Boolean = {
    val m = Option(e.getMessage).getOrElse("")
    m.contains("NANOS") || Option(e.getCause).exists(isNanosRefusal)
  }

  /** Parquet read that survives a TIMESTAMP(NANOS) regeneration of ANY
    * table. The legacy `nanosAsLong` conf is set on an ISOLATED child
    * session (`newSession`: shared SparkContext, own SQLConf) that only
    * this relation captures — the caller's session conf is never mutated,
    * so a NANOS column elsewhere still fails loudly instead of silently
    * loading as raw longs. The nanos column then surfaces as LongType and
    * [[conform]] truncates ns→µs with exact integer `div`, matching
    * DuckDB's own ns→µs truncation bit-for-bit. */
  private def readWithNanosFallback(spark: SparkSession, path: String): DataFrame =
    try spark.read.parquet(path)
    catch {
      case e: Exception if isNanosRefusal(e) =>
        val nanosSession = spark.newSession()
        nanosSession.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        // newSession() isolates the FUNCTION REGISTRY too: any query
        // using a native temp function (kmv_sketch, topk_ids, the
        // codegen kernels) would hit UNRESOLVED_ROUTINE when analyzed
        // against this frame's session — register them all up front so
        // an encoding flip still cannot break a query family
        graft.functions.GraftFunctions.ensureRegistered(nanosSession)
        nanosSession.read.parquet(path)
    }

  /** Exact, value-preserving coercion from a drifted post-read type to the
    * canonical engine-facing type; None = not safely coercible. */
  private def coercion(name: String, from: DataType, to: DataType): Option[Column] = {
    val c = col(name)
    (from, to) match {
      case (f, t) if f == t => Some(c)
      // integral width flips (int32<->int64 etc.): widening is exact; a
      // NARROWING cast wraps silently under non-ANSI semantics (and under
      // ANSI throws an anonymous CAST_OVERFLOW naming no table) — a
      // wrapped key would never be "caught downstream", it would silently
      // corrupt joins. try_cast is null exactly iff out-of-range, so the
      // guard is one codegen-friendly null check with a named loud error.
      case (f @ (ByteType | ShortType | IntegerType | LongType),
            t @ (ByteType | ShortType | IntegerType | LongType)) =>
        def width(dt: DataType): Int = dt match {
          case ByteType => 1; case ShortType => 2; case IntegerType => 4; case _ => 8
        }
        if (width(t) >= width(f)) Some(c.cast(to))
        else {
          val narrowed = expr(s"try_cast(`$name` AS ${t.sql})")
          Some(when(c.isNull, lit(null).cast(t))
            .when(narrowed.isNotNull, narrowed)
            .otherwise(raise_error(concat(
              lit(s"$name: value "), c.cast(StringType),
              lit(s" overflows the engine's ${t.simpleString} — regenerated " +
                "parquet widened this column with real out-of-range data; " +
                "update Tables.canonical (and re-audit the oracles)"))).cast(t))
            .as(name))
        }
      // float<->double flips: the generator has only ever produced
      // float-representable values; widening is exact, narrowing returns
      // to the width every oracle was rendered against
      case (FloatType | DoubleType, FloatType | DoubleType) => Some(c.cast(to))
      // TIMESTAMP(NANOS) read as raw longs under the fallback session.
      // The div-1000 assumes NANOSECOND epochs — but a regeneration could
      // ship plain INT64 micro/second epochs with no NANOS annotation, in
      // which case the fallback never fires and this branch would load
      // values 1e3x/1e9x off. Sanity-check the magnitude per row: ns
      // epochs for any plausible event date are ~1e18 (1e17 ≈ 1973); a
      // µs epoch (~1e15) or s epoch (~1e9) fails loudly instead.
      case (LongType, TimestampType) =>
        val plausibleNs = c.isNull.or(abs(c) >= lit(100000000000000000L))
        Some(when(plausibleNs, timestamp_micros(expr(s"`$name` div 1000")))
          .otherwise(raise_error(concat(
            lit(s"$name: INT64 value "), c.cast(StringType),
            lit(" is too small to be a nanosecond epoch — regenerated " +
              "parquet likely ships µs/s epochs; update Tables.conform " +
              "for this generation"))).cast(TimestampType))
          .as(name))
      case (TimestampNTZType, TimestampType) | (TimestampType, TimestampNTZType) =>
        Some(c.cast(to)) // session tz is UTC end to end: a pure re-tag
      case (DateType, TimestampType) => Some(c.cast(to))
      // embedding-style element flips inside arrays
      case (ArrayType(f, n), ArrayType(t, _)) =>
        coercion("__elem", f, t).map(_ => c.cast(ArrayType(t, n)).as(name))
      case (_: DecimalType, DoubleType | FloatType | LongType | IntegerType) =>
        Some(c.cast(to))
      case _ => None
    }
  }

  /** Conform every canonical column present in the frame to its engine-
    * facing type (see [[canonical]]); extra columns pass through, a
    * missing column is left to Spark's own (clear) unresolved-column
    * error at query time. Non-coercible drift fails here, loudly. */
  private[graft] def conform(table: String, df: DataFrame): DataFrame = {
    val expected = canonical.getOrElse(table, Seq.empty).toMap
    val cols = df.schema.fields.map { f =>
      expected.get(f.name) match {
        case Some(want) =>
          coercion(f.name, f.dataType, want).getOrElse(
            throw new IllegalStateException(
              s"$table.${f.name}: regenerated parquet type ${f.dataType.simpleString} " +
                s"is not safely coercible to the engine's ${want.simpleString} — " +
                "update Tables.canonical (and re-audit the oracles) for this generation"))
            .as(f.name)
        case None => col(f.name)
      }
    }
    df.select(cols.toIndexedSeq: _*)
  }

  /** Encoding-robust events reader (kept as the public single-table entry
    * point — specs and the streaming fixtures drive it directly). */
  def loadEvents(spark: SparkSession, path: String): DataFrame =
    conform("events", readWithNanosFallback(spark, path))

  /** Per-session memo of the UNEXECUTED conformed frame (r15, guide §6
    * file-listing/planning constants): every `spark.read.parquet` call
    * re-reads footers for schema inference and [[estimatedSplits]]
    * re-lists the directory — 0.10–0.26 s of driver-side metadata per
    * call, paid by every query construction and every bench repeat
    * (~306 queries × ≥2 repeats). The memo holds only the logical plan
    * (a catalog does exactly this); each ACTION still scans the parquet
    * from disk, so no result or data is cached across runs. Keyed by
    * session so Bench/Verify/tests each get their own entry. The memoized
    * frames hold their session, so a weak key would never clear: a
    * session's entry is dropped when its SparkContext stops. */
  private val loadMemo =
    scala.collection.mutable.Map.empty[SparkSession,
      scala.collection.mutable.Map[(String, String), DataFrame]]

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    loadMemo.synchronized {
      loadMemo
        .getOrElseUpdate(spark, {
          spark.sparkContext.addSparkListener(new SparkListener {
            override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit =
              loadMemo.synchronized(loadMemo.remove(spark))
          })
          scala.collection.mutable.Map.empty[(String, String), DataFrame]
        })
        .getOrElseUpdate((dir, name), {
          val path = s"$dir/$name.parquet"
          val raw = conform(name, readWithNanosFallback(spark, path))
          if (factTables(name)) withScanParallelism(spark, path, name, raw) else raw
        })
    }
}
