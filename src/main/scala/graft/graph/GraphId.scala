package graft.graph

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.shiftrightunsigned

/** 64-bit graph element id with the reference's bit packing:
  * labid:16 << 48 | locid:48 (reference: src/include/utils/graph.h:18-39
  * GraphidGetLabid / GraphidGetLocid / GRAPHID_LOCID_MAX).
  *
  * Pure functions over Long — no UDT; id columns are plain LongType so
  * joins/aggregations on them stay codegen'd and shuffle-friendly.
  */
object GraphId {
  val LocidBits = 48
  val LocidMax: Long = (1L << LocidBits) - 1
  val LabidMax: Int = 0xffff

  def pack(labid: Int, locid: Long): Long = {
    require(labid >= 0 && labid <= LabidMax, s"labid out of range: $labid")
    require(locid >= 0 && locid <= LocidMax, s"locid out of range: $locid")
    (labid.toLong << LocidBits) | locid
  }

  def labid(id: Long): Int = ((id >>> LocidBits) & 0xffff).toInt
  def locid(id: Long): Long = id & LocidMax

  /** [[labid]] over a graphid column: the int label id. */
  def labidOf(c: Column): Column =
    shiftrightunsigned(c, LocidBits).cast("int")

  /** Render as the reference's graphid text form "labid.locid"
    * (graphid_out, src/backend/utils/adt/graph.c).
    */
  def show(id: Long): String = s"${labid(id)}.${locid(id)}"

  /** Parse the "labid.locid" text form (graphid_in; rejects negatives
    * and out-of-range parts like the reference — graphid.sql:7-21).
    */
  def parse(s: String): Long = {
    val dot = s.indexOf('.')
    require(dot > 0 && dot < s.length - 1, s"invalid graphid: $s")
    val lab = try s.substring(0, dot).toInt catch {
      case _: NumberFormatException =>
        throw new IllegalArgumentException(s"invalid graphid: $s")
    }
    val loc = try s.substring(dot + 1).toLong catch {
      case _: NumberFormatException =>
        throw new IllegalArgumentException(s"invalid graphid: $s")
    }
    pack(lab, loc)
  }
}
