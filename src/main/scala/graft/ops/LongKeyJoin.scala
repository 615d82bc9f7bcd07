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

  private val Key = "__lkj"

  /** Null when any column is null, else the 64-bit hash of all of them. */
  private def longKey(df: DataFrame, keys: Seq[String]): Column =
    when(keys.map(k => df(k).isNotNull).reduce(_ && _),
      xxhash64(keys.map(df(_)): _*))

  def apply(left: DataFrame, right: DataFrame, keys: Seq[String],
      how: String, guard: String): DataFrame = {
    require(how == "inner" || how == "left_outer", s"unsupported join type $how")
    require(right.columns.contains(guard) && !keys.contains(guard),
      s"guard $guard must be a non-key column of the right side")
    // xxhash64 hashes the value's type, so an int never meets a long
    keys.foreach(k => require(left.schema(k).dataType == right.schema(k).dataType,
      s"key $k: ${left.schema(k).dataType} vs ${right.schema(k).dataType}"))
    val rk = keys.map(k => s"__r_$k")
    val l = left.withColumn(Key, longKey(left, keys))
    val r0 = keys.zip(rk).foldLeft(right) { case (df, (k, rn)) => df.withColumnRenamed(k, rn) }
    val r = r0.withColumn(Key, longKey(r0, rk))
    val collided = r(rk.head).isNotNull &&
      !keys.zip(rk).map { case (k, rn) => l(k) === r(rn) }.reduce(_ && _)
    val out = keys.map(l(_)) ++ left.columns.filterNot(keys.contains).map(l(_)) ++
      right.columns.filterNot(keys.contains).map { c =>
        if (c != guard) r(c)
        else when(collided, raise_error(lit(
          s"LongKeyJoin: xxhash64 collision on (${keys.mkString(", ")})"))).otherwise(r(c)).as(c)
      }
    l.join(r, l(Key) === r(Key), how).select(out: _*)
  }
}
