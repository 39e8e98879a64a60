package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData

/** Byte-level predicates and the null-slot policy shared by the native
  * kernels. */
private[functions] object TextBytes {
  /** Java regex \\s: space, \\t, \\n, \\x0B, \\f, \\r — all ASCII, and
    * ASCII bytes never occur inside UTF-8 multibyte sequences, so a
    * byte-level whitespace test is exact on UTF-8 text (the argument
    * every native tokenizer here relies on). */
  @inline def isWs(b: Byte): Boolean = {
    val x = b & 0xFF
    x == ' ' || (x >= 0x09 && x <= 0x0D)
  }

  /** Loud failure for a null array slot reached by a native kernel.
    * Analysis-time rejection of containsNull=true inputs is TOO strict —
    * Catalyst's inferred nullability is conservatively true for join
    * outputs and most HOF-composed arrays even when no element is ever
    * null — so the kernels accept them and instead refuse AT THE ELEMENT
    * READ: never compute values from a null slot. */
  def failNullSlot(fn: String, i: Int): Nothing =
    throw new IllegalArgumentException(
      s"$fn: null array element at index $i — this kernel declares " +
        "non-null output and will not compute from null slots; " +
        "null-filter the producer first")

  /** [[failNullSlot]] on the first null slot of `a`: one pre-scan for
    * kernels whose element reads (getLong/getFloat/getDouble, toLongArray)
    * would otherwise read a null slot as 0 or garbage. */
  def requireNoNullSlots(fn: String, a: ArrayData): Unit = {
    var i = 0
    while (i < a.numElements()) { if (a.isNullAt(i)) failNullSlot(fn, i); i += 1 }
  }
}
