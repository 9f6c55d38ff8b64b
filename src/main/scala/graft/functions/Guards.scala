package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Shared overflow guards (VERDICT r11 item 6): several exact-integer
  * queries carry prose headroom notes of the form "at 100 TB escalate to
  * DECIMAL(38,0)" — q181's decay shift, q173's lift numerator, q204's
  * n·c² products. Prose does not stop an operator who raises a constant
  * or feeds a bigger corpus, and two of the failure modes are SILENT:
  *
  *  - `shiftleft` masks its shift amount to the low 6 bits (Java `<<`
  *    semantics), so an out-of-range shift wraps to garbage with no
  *    error in ANY SQL mode — the q181 exposure ADVICE r11 flagged;
  *  - BIGINT multiply overflow only throws under ANSI mode (the Spark 4
  *    default, which this repo rides); an ANSI-off deployment of the
  *    same query text would wrap silently.
  *
  * These helpers turn both into LOUD, named runtime errors. They never
  * fire on in-bounds data, so oracles need no mirror text — a firing
  * guard reds the gate row by crashing the query, which is the point.
  * Cost: one extra comparison per row on codegen'd integer columns —
  * noise even on corpus-sized inputs, and the call sites here are all
  * aggregate-sized tables (brand pairs, key-count tables, 1-row
  * broadcast anchors).
  */
object Guards {

  /** a·b as BIGINT, raising a named error when the product overflows —
    * in ANSI and non-ANSI modes alike. Built on `try_multiply` (NULL on
    * overflow in both modes) so the probe itself can never throw before
    * the named error does. */
  def checkedMul(a: Column, b: Column, what: String): Column = {
    val p = try_multiply(a, b)
    when(a.isNotNull && b.isNotNull && p.isNull,
      raise_error(lit(s"$what: BIGINT product overflow")))
      .otherwise(p)
  }

  /** v << shift with the shift amount RANGE-CHECKED: Spark (like Java)
    * masks the shift to its low 6 bits, so shift = −2 or 70 silently
    * becomes 62 or 6. Raises a named error outside [0, maxShift];
    * maxShift defends the VALUE headroom the caller computed (e.g.
    * q181's cents < 2^16 ⇒ maxShift 30 keeps Σ < 2^63 with room). */
  def boundedShiftLeft(v: Column, shift: Column, maxShift: Int,
                       what: String): Column =
    when(shift < 0 || shift > maxShift,
      raise_error(concat(
        lit(s"$what: shift outside [0,$maxShift]: "), shift.cast("string"))))
      .otherwise(call_function("shiftleft", v, shift.cast("int")))

  /** `v` unchanged, or a named error when it lies outside [lo, hi] — the
    * domain guard for a fixed-width packing whose bijection holds only
    * on a bounded range (q192/q198's `(pk << 32) + pk` pair key). Nulls
    * pass through. */
  def checkedRange(v: Column, lo: Long, hi: Long, what: String): Column =
    when(v < lo || v > hi,
      raise_error(concat(
        lit(s"$what: outside [$lo,$hi]: "), v.cast("string"))))
      .otherwise(v)
}
