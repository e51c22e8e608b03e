package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.{BitsDouble, DoubleBits, StringFingerprint, TextStats, VecBridge, VecDot, VecSqDist}

/** Public Column API over the native codegen vector expressions
  * (org.apache.spark.sql.graft.VecDot / VecSqDist — see that file for
  * why they live in the Spark namespace). */
object VecFunctions {
  private def e(c: Column) = VecBridge.expression(c)

  def vecDot(a: Column, b: Column): Column =
    VecBridge.column(VecDot(e(a), e(b)))

  def vecSqDist(a: Column, b: Column): Column =
    VecBridge.column(VecSqDist(e(a), e(b)))

  /** Raw IEEE bits of a non-negative double (order-preserving). */
  def doubleBits(a: Column): Column = VecBridge.column(DoubleBits(e(a)))

  /** Reinterpret raw IEEE bits as a double. */
  def bitsDouble(a: Column): Column = VecBridge.column(BitsDouble(e(a)))

  /** 31-base polynomial rolling hash mod 1e9+7 (document fingerprint). */
  def docFingerprint(a: Column): Column = VecBridge.column(StringFingerprint(e(a)))

  /** Unicode canonical composition (NFC). */
  def nfcNormalize(a: Column): Column =
    VecBridge.column(org.apache.spark.sql.graft.NfcNormalize(e(a)))

  /** Single-pass token stats `[n_tokens, total_token_chars, n_stop,
    * n_distinct]` of an already-lower-cased string (see
    * org.apache.spark.sql.graft.TextStats). */
  def textStats(a: Column, stopwords: Seq[String]): Column =
    VecBridge.column(TextStats(e(a), stopwords))

  /** Single-pass Gopher-repetition stats `[top2_chars, dup2_chars, …,
    * top10_chars, dup10_chars]` of an already-lower-cased string (see
    * org.apache.spark.sql.graft.GramRepStats). */
  def gramRepStats(a: Column): Column =
    VecBridge.column(org.apache.spark.sql.graft.GramRepStats(e(a)))
}
