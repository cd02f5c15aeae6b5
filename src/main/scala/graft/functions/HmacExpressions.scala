package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType}

/** RFC 2104 HMAC kernels — Presto's `hmac_md5/sha1/sha256/sha512(binary,
  * key)` family, the keyed-digest spellings a security lake signs and
  * verifies event payloads with (the reference's exact domain; Spark ships
  * unkeyed digests only). Runtime is the JDK's javax.crypto.Mac — an
  * implementation lineage independent of the Python-stdlib twin that
  * generates the fixture oracle (tools/gen_expected.py), giving the
  * declared row the same two-implementation standing as the
  * fingerprint/stem fixtures. */
object HmacOps {
  /** One Mac instance per (thread, algorithm): Mac.getInstance is a
    * provider lookup + allocation per call — measurable at per-row rates —
    * and Mac is not thread-safe, so the cache is thread-local. init()
    * rekeys the cached instance per call (keys are per-row expressions). */
  private val macs = new ThreadLocal[java.util.HashMap[String, javax.crypto.Mac]] {
    override def initialValue() = new java.util.HashMap[String, javax.crypto.Mac]()
  }
  def hmac(data: Array[Byte], key: Array[Byte], algorithm: String): Array[Byte] = {
    val cache = macs.get()
    var mac = cache.get(algorithm)
    if (mac == null) {
      mac = javax.crypto.Mac.getInstance(algorithm)
      cache.put(algorithm, mac)
    }
    mac.init(new javax.crypto.spec.SecretKeySpec(key, algorithm))
    mac.doFinal(data)
  }
}

/** hmac(data, key) for one fixed JCA algorithm; binary in/out (the
  * registration casts string inputs to their UTF-8 bytes — Presto's
  * to_utf8 behavior), codegen'd as a single static call. */
case class Hmac(left: Expression, right: Expression, algorithm: String)
    extends BinaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects binary data and key, got ${left.dataType} / ${right.dataType}")
  override def dataType: DataType = BinaryType
  override def prettyName: String = s"hmac_${algorithm.stripPrefix("Hmac").toLowerCase}"

  override protected def nullSafeEval(data: Any, key: Any): Any =
    HmacOps.hmac(data.asInstanceOf[Array[Byte]], key.asInstanceOf[Array[Byte]], algorithm)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (d, k) => s"""graft.functions.HmacOps.hmac($d, $k, "$algorithm")""")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Hmac =
    copy(left = newLeft, right = newRight)
}
