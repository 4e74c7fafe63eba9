package graft.engine

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.DataType
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter

/** Broadcast bloom-group holder: resolves the broadcast once per executor
  * (lazy) instead of per row.
  */
final class BloomGroup(bc: Broadcast[Vector[Array[Byte]]]) extends Serializable {
  @transient lazy val filters: Array[BloomFilter] =
    bc.value.map(b => BloomFilter.readFrom(new java.io.ByteArrayInputStream(b))).toArray
}

object BloomGate {
  /** Spark's BloomFilter hashes strings as their UTF-8 bytes, so the
    * UTF8String payload tests directly against putString() entries.
    */
  def mightContain(group: BloomGroup, s: UTF8String): Boolean = {
    val fs = group.filters
    var i = 0
    while (i < fs.length) {
      if (fs(i).mightContainBinary(s.getBytes)) return true
      i += 1
    }
    false
  }
}

/** Executor-side robots helpers (the provider memoizes parsed policies per
  * JVM — see RobotsProvider.policyFor).
  */
object RobotsOps {
  def delayMs(prov: RobotsProvider, ua: String, host: UTF8String): Long =
    prov.politenessDelayMs(host.toString, ua)
}

/** `robots_delay_ms(host)` — max(Crawl-delay, Request-rate) in ms for the
  * politeness quota (B9); replaces the round-1 per-row Scala UDF.
  */
case class RobotsDelayMs(child: Expression, prov: RobotsProvider, ua: String)
    extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullSafeEval(host: Any): Any =
    RobotsOps.delayMs(prov, ua, host.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val p = ctx.addReferenceObj("robotsProv", prov, classOf[RobotsProvider].getName)
    val u = ctx.addReferenceObj("robotsUa", ua, "java.lang.String")
    defineCodeGen(ctx, ev, h => s"graft.engine.RobotsOps.delayMs($p, $u, $h)")
  }
  override protected def withNewChildInternal(c: Expression): RobotsDelayMs = copy(child = c)
}

object enginefns {
  import GraftSqlBridge.{toColumn => column}
  def robots_delay_ms(host: Column, prov: RobotsProvider, ua: String): Column =
    column(RobotsDelayMs(GraftSqlBridge.toExpression(host), prov, ua))
}
