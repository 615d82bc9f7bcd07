package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** An equi-join on string or multi-column keys, planned through one
  * `xxhash64` long key.
  *
  * Spark builds a broadcast hash join whose build key is anything other
  * than a single integral column as an `UnsafeHashedRelation`, and its
  * first `BytesToBytesMap` page is `spark.buffer.pageSize` (32 MB on a
  * 4-core, 4 GB driver) however few rows the build side has. A cache
  * entry whose plan holds such a join keeps that page alive as long as
  * the entry (see `GraftBridge.cacheLeaf`). A single long key builds a
  * `LongHashedRelation` instead, sized by the build rows.
  *
  * Same rows as `left.join(right, keys, how)`:
  *  - the long key is null when any key column is null, so null keys
  *    never match, exactly as with `===`;
  *  - the output is the using-join's: `keys` once (the left side's),
  *    then the other left columns, then the other right columns;
  *  - the `guard` column (a right-side column the caller keeps) raises
  *    an error on a matched pair whose original keys differ. Only a
  *    64-bit hash collision can produce one, so the result is exact or
  *    the query fails loudly. A `left_outer` miss passes the guard. */
object LongKeyJoin {

  private val LKey = "__lkj"
  private val RKey = "__rkj"
  private def renamed(c: String) = s"__r_$c"
  /** The column named `c`, even when the name holds a dot or a backtick. */
  private def ref(c: String): Column = col(s"`${c.replace("`", "``")}`")

  /** Null when any column is null, else the 64-bit hash of all of them. */
  private def longKey(keys: Seq[String]): Column =
    when(keys.map(ref(_).isNotNull).reduce(_ && _), xxhash64(keys.map(ref): _*))

  def apply(left: DataFrame, right: DataFrame, keys: Seq[String],
      how: String, guard: String): DataFrame = {
    require(how == "inner" || how == "left_outer", s"unsupported join type $how")
    require(right.columns.contains(guard) && !keys.contains(guard),
      s"guard $guard must be a non-key column of the right side")
    // xxhash64 hashes the value's type, so an int never meets a long
    keys.foreach(k => require(left.schema(k).dataType == right.schema(k).dataType,
      s"key $k: ${left.schema(k).dataType} vs ${right.schema(k).dataType}"))
    // Every right column gets a fresh name, so the join output resolves by
    // name alone. Column references bound to either input frame would not
    // survive when both sides carry the same attributes (a self-join, or
    // two frames derived from one cache leaf): Spark re-instances one side
    // and rejects the stale reference as ambiguous.
    val l = left.withColumn(LKey, longKey(keys))
    val r = right.select(right.columns.toIndexedSeq.map(c => right(c).as(renamed(c))): _*)
      .withColumn(RKey, longKey(keys.map(renamed)))
    val collided = ref(renamed(keys.head)).isNotNull &&
      !keys.map(k => ref(k) === ref(renamed(k))).reduce(_ && _)
    val out = (keys ++ left.columns.filterNot(keys.contains)).map(ref) ++
      right.columns.filterNot(keys.contains).map { c =>
        if (c != guard) ref(renamed(c)).as(c)
        else when(collided, raise_error(lit(
          s"LongKeyJoin: xxhash64 collision on (${keys.mkString(", ")})")))
          .otherwise(ref(renamed(c))).as(c)
      }
    l.join(r, col(LKey) === col(RKey), how).select(out: _*)
  }
}
