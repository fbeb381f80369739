package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

/** Backward (point-in-time) as-of join — the engine's flagship operator.
  *
  * For every left row (key, ts), attach the payload of the LATEST right row
  * with the same key and right.ts <= left.ts (inclusive); null if none.
  * Among right rows sharing (key, ts), the one with the greatest `rightSeq`
  * wins (deterministic tiebreak). Zero temporal leakage by construction:
  * no right row with ts' > ts can ever reach a left row.
  *
  * Spark has no built-in as-of join, so three equivalent implementations are
  * provided (property-tested identical — SURVEY §7.4.5):
  *
  *  1. `windowed` — union-tag + `last(ignoreNulls)` over a cumulative window.
  *     Declarative; Catalyst plans one exchange + one sort. The SQL-oracle
  *     form (DuckDB `ASOF JOIN` cross-checks it).
  *  2. [[graft.plans.AsOfPlan.asOfJoin]] — the native Catalyst operator:
  *     both sides hash-clustered on the key and sorted (key, ts, seq) by
  *     EnsureRequirements, then a single-pass merge carrying the last-seen
  *     payload. One shuffle per side, O(1) state per key.
  *  3. `mergedScalable` — RANGE-partitioned on (key, ts) + boundary
  *     stitching: the explicit skew path for mega-keys (see its doc).
  *
  * All three take the greatest-seq tiebreak from their (key, ts, side, seq)
  * sort alone, never comparing payloads, so any payload type joins.
  *
  * Shuffle-volume note: `windowed` and `mergedScalable` pack both sides as
  * (key, tsUs, side, payload STRUCT, seq) before the union — a left row carries
  * ONE null struct slot, not |payload| null columns, which at 50+ payload
  * columns cuts the sorted bytes by ~5× versus the naive wide union.
  *
  * At cluster scale the choice is mechanical: (3) when a key can dominate a
  * partition; else (2); (1) as the semantic oracle.
  */
object AsOfJoin {

  /** Key types the InternalRow merge variants support. The merges detect
    * key-group changes with Java equals on InternalRow-extracted values,
    * which is value-equality for UTF8String and boxed primitives but
    * REFERENCE equality for BinaryType (Array[Byte]). Restricting to these
    * types makes the comparison sound; anything else fails fast instead of
    * silently dropping payloads. */
  private val SupportedKeyTypes: Set[DataType] = Set(
    StringType, ByteType, ShortType, IntegerType, LongType, BooleanType,
    DateType, TimestampType, TimestampNTZType)

  private[graft] def requireKeyType(df: DataFrame, key: String, op: String): Unit = {
    val dt = df.schema(key).dataType
    require(SupportedKeyTypes.contains(dt),
      s"AsOfJoin.$op: unsupported key type $dt for '$key' — supported: " +
        "string / integral / boolean / date / timestamp (BinaryType keys would " +
        "compare by reference and silently mismatch)")
  }

  /** Internal: both sides packed to (__k, __t, __side, __l struct, __p struct,
    * __s = rightSeq; null on left rows, which `__side` already orders). */
  private final case class Packed(
      union: DataFrame, lStructType: StructType, pStructType: StructType)

  private def pack(left: DataFrame, right: DataFrame, key: String, ts: String,
                   rightSeq: String, payload: Seq[String]): Packed = {
    val lTagged = left.select(
      col(key).as("__k"), micros(col(ts)).as("__t"), lit(1).as("__side"),
      struct(left.columns.map(col): _*).as("__l"),
      lit(null).cast(StructType(payload.map(p =>
        StructField(p, right.schema(p).dataType, nullable = true)))).as("__p"),
      lit(null).cast(right.schema(rightSeq).dataType).as("__s"))
    val lStructType = lTagged.schema("__l").dataType.asInstanceOf[StructType]
    val pStructType = lTagged.schema("__p").dataType.asInstanceOf[StructType]
    val rTagged = right.select(
      col(key).as("__k"), micros(col(ts)).as("__t"), lit(0).as("__side"),
      lit(null).cast(lStructType).as("__l"),
      struct(payload.map(col): _*).as("__p"),
      col(rightSeq).as("__s"))
    Packed(lTagged.unionByName(rTagged), lStructType, pStructType)
  }

  private def outSchema(lt: StructType, pt: StructType, prefix: String): StructType =
    StructType(lt.fields ++ pt.fields.map(f => f.copy(name = s"$prefix${f.name}", nullable = true)))

  /** Variant 1 — declarative window fill. */
  def windowed(left: DataFrame, right: DataFrame, key: String, ts: String,
               rightSeq: String, payload: Seq[String], prefix: String = "asof_"): DataFrame = {
    val p = pack(left, right, key, ts, rightSeq, payload)
    val w = Window.partitionBy(col("__k")).orderBy(col("__t"), col("__side"), col("__s"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    p.union
      .select(col("__side"), col("__l"),
        last(col("__p"), ignoreNulls = true).over(w).as("__p"))
      .filter(col("__side") === 1)
      .select(left.columns.map(c => col(s"__l.$c")) ++
        payload.map(pc => col(s"__p.$pc").as(s"$prefix$pc")): _*)
  }

  /** Variant 3 — SKEW-PROOF range-partitioned merge with boundary stitching.
    *
    * `AsOfPlan.asOfJoin` keeps each key in one partition, so one
    * mega-conversation (a key holding, say, 50% of all rows) lands on ONE
    * task — the classic skew failure the north rule calls out. This variant
    * range-partitions by (key, ts), letting a huge key span MANY partitions,
    * and repairs correctness with a two-pass prefix carry:
    *
    *   pass 1 (cheap scan): each partition reports the last-seen right-row
    *     payload of its LAST key — the only state that can flow across a
    *     range boundary;
    *   driver: prefix-combines the P summaries (O(P), tiny) into an incoming
    *     state per partition;
    *   pass 2: the normal single-pass merge, seeded with the incoming state.
    *
    * Parallel-prefix-sum shape: work is proportional to rows per PARTITION,
    * not rows per KEY. Both passes pull the same `toRdd`, so pass 2 re-reads
    * pass 1's shuffle files and no persist outlives the call ([[PrefixSum]]).
    * Property-tested identical to the other variants incl. mega-key fixtures.
    */
  def mergedScalable(left: DataFrame, right: DataFrame, key: String, ts: String,
                     rightSeq: String, payload: Seq[String], prefix: String = "asof_",
                     numPartitions: Int = 0): DataFrame = {
    val spark = left.sparkSession
    requireKeyType(left, key, "mergedScalable")
    val p = pack(left, right, key, ts, rightSeq, payload)
    val parts =
      if (numPartitions > 0) numPartitions
      else spark.sessionState.conf.numShufflePartitions
    val sorted = p.union
      .repartitionByRange(parts, col("__k"), col("__t"), col("__side"))
      .sortWithinPartitions(col("__k"), col("__t"), col("__side"), col("__s"))

    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.unsafe.types.UTF8String
    val keyType = sorted.schema("__k").dataType
    val nL = p.lStructType.size
    val nP = p.pStructType.size
    def retainKey(k: Any): Any = k match {
      case u: UTF8String => u.clone()
      case other => other
    }

    // pass 1 (InternalRow scan): per-partition (pid, lastKey, lastPayload or
    // null) — the only state that can flow over a range boundary
    val summaries: Array[(Int, Any, InternalRow)] =
      sorted.queryExecution.toRdd.mapPartitionsWithIndex { (pid, it) =>
        var curKey: Any = null
        var haveKey = false
        var lastPay: InternalRow = null
        var any = false
        it.foreach { row =>
          val k = row.get(0, keyType)
          if (!haveKey || k != curKey) { curKey = retainKey(k); haveKey = true; lastPay = null }
          if (row.getInt(2) == 0) lastPay = row.getStruct(4, nP).copy()
          any = true
        }
        if (!any) Iterator.empty else Iterator.single((pid, curKey, lastPay))
      }.collect()

    // driver prefix-combine: incoming state per partition. An explicit
    // haveCarry flag (NOT key-null-ness) marks "no carry": a genuinely null
    // join key sorts first under range partitioning and must still carry its
    // payload across a boundary like any other key.
    val incoming = new Array[(Any, InternalRow)](parts)
    var haveCarry = false
    var carryKey: Any = null
    var carryPay: InternalRow = null
    val byPid = summaries.map(s => s._1 -> s).toMap
    (0 until parts).foreach { pi =>
      incoming(pi) = if (haveCarry) (carryKey, carryPay) else null
      byPid.get(pi).foreach { case (_, lastKey, lastPay) =>
        if (lastPay != null) { haveCarry = true; carryKey = lastKey; carryPay = lastPay }
        else if (haveCarry && lastKey != carryKey) {
          haveCarry = false; carryKey = null; carryPay = null
        }
        // else: same key continues with no new state -> carry unchanged
      }
    }
    val bcIncoming = spark.sparkContext.broadcast(incoming)

    // pass 2: the seeded single-pass InternalRow merge
    val out = outSchema(p.lStructType, p.pStructType, prefix)
    val rdd = sorted.queryExecution.toRdd.mapPartitionsWithIndex { (pid, it) =>
      val proj = org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(out)
      val joined = new org.apache.spark.sql.catalyst.expressions.JoinedRow
      val nullPay = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(nP)
      val inc = bcIncoming.value(pid)
      var curKey: Any = null
      var haveKey = false
      var lastPay: InternalRow = null
      var firstGroup = true
      it.flatMap { row =>
        val k = row.get(0, keyType)
        if (!haveKey || k != curKey) {
          curKey = retainKey(k); haveKey = true
          lastPay = if (firstGroup && inc != null && k == inc._1) inc._2 else null
          firstGroup = false
        }
        if (row.getInt(2) == 0) {
          lastPay = row.getStruct(4, nP).copy()
          Iterator.empty
        } else {
          joined(row.getStruct(3, nL), if (lastPay == null) nullPay else lastPay)
          Iterator.single(proj(joined).copy(): InternalRow)
        }
      }
    }
    org.apache.spark.sql.graftbridge.Bridge.internalCreateDataFrame(spark, rdd, out)
  }
}
