package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count, lit, struct, sum, to_json, xxhash64}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Order-insensitive content digest of a query result: the row count and
  * the sum (mod 2^64) of xxhash64 over each row. A dropped, duplicated or
  * changed row changes it. Computed by Spark itself, so the check costs
  * about what one more execution of the plan costs. Columns holding maps
  * or variants, which xxhash64 does not take, are hashed as JSON text. */
final case class Digest(rows: Long, hash: Long) {
  def hex: String = f"$hash%016x"
}

object Digest {
  private def needsJson(t: DataType): Boolean = t match {
    case _: MapType => true
    case s: StructType => s.fields.exists(f => needsJson(f.dataType))
    case a: ArrayType => needsJson(a.elementType)
    case other => other.typeName == "variant"
  }

  def of(df: DataFrame): Digest = {
    val cols = df.schema.fields.map { f =>
      val c = df.col("`" + f.name.replace("`", "``") + "`")
      if (needsJson(f.dataType)) to_json(struct(c)) else c
    }
    val r = df.select(xxhash64(cols.toIndexedSeq: _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    Digest(r.getLong(0), Option(r.getDecimal(1)).map(_.toBigInteger.longValue).getOrElse(0L))
  }
}

/** Reference check of the streaming workload's outputs against the events
  * the generator sent. Pure functions over collected sink contents, so
  * the self-test can feed them corrupted copies. */
object StreamCheck {

  /** One emitted or expected window row: (window start ms, account). */
  final case class WinKey(startMs: Long, account: String)
  final case class WinVal(count: Long, sum: Double)

  /** Every expected id exactly once across main and dead, on the right
    * side; no id that should not be there. Returns the problems found. */
  def ids(mainIds: Seq[String], deadIds: Seq[String],
          expectMain: Set[String], expectDead: Set[String]): Seq[String] = {
    val problems = Seq.newBuilder[String]
    val all = mainIds ++ deadIds
    val dup = all.groupBy(identity).collect { case (k, v) if v.size > 1 => k }
    if (dup.nonEmpty) problems += s"${dup.size} ids delivered more than once, e.g. ${dup.head}"
    val mainSet = mainIds.toSet
    val deadSet = deadIds.toSet
    val missMain = expectMain -- mainSet
    val missDead = expectDead -- deadSet
    if (missMain.nonEmpty) problems += s"${missMain.size} valid ids missing from main, e.g. ${missMain.head}"
    if (missDead.nonEmpty) problems += s"${missDead.size} invalid ids missing from dead, e.g. ${missDead.head}"
    val extra = (mainSet -- expectMain) ++ (deadSet -- expectDead)
    if (extra.nonEmpty) problems += s"${extra.size} unexpected ids in sinks, e.g. ${extra.head}"
    problems.result()
  }

  /** Emitted windows must equal the reference; every reference window
    * that ended before the final watermark must have been emitted and no
    * later one. A window ending exactly at the watermark may go either way. */
  def windows(emitted: Seq[(WinKey, WinVal)], reference: Map[WinKey, WinVal],
              windowMs: Long, watermarkMs: Long): Seq[String] = {
    val problems = Seq.newBuilder[String]
    val byKey = emitted.groupBy(_._1)
    val repeated = byKey.collect { case (k, v) if v.size > 1 => k }
    if (repeated.nonEmpty) problems += s"${repeated.size} windows emitted twice, e.g. ${repeated.head}"
    emitted.foreach { case (k, v) =>
      reference.get(k) match {
        case None => problems += s"window $k emitted but absent from the reference"
        case Some(r) =>
          if (r.count != v.count || math.abs(r.sum - v.sum) > 1e-6 * math.max(1.0, math.abs(r.sum)))
            problems += s"window $k: got $v, reference $r"
      }
    }
    reference.keys.foreach { k =>
      val end = k.startMs + windowMs
      if (end < watermarkMs && !byKey.contains(k)) problems += s"closed window $k not emitted"
      if (end > watermarkMs && byKey.contains(k)) problems += s"open window $k emitted early"
    }
    problems.result().take(20)
  }
}
