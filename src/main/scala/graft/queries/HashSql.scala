package graft.queries

import graft.functions.Hashing

/** DuckDB-SQL mirrors of the native hash expressions in
  * [[graft.functions]] ([[graft.functions.ShingleHashes]],
  * [[graft.functions.MinHashSignature]], [[graft.functions.SimHash64]])
  * — the generator behind the minhash/simhash/ngram near-dup oracles.
  *
  * Technique: every 64-bit value lives in DuckDB's HUGEINT as its
  * UNSIGNED value in [0, 2^64). DuckDB BIGINT arithmetic ERRORS on
  * overflow (no wraparound), so Java's wrapping `*` is emulated by
  * 32-bit limb splitting — (al·bl + ((al·bh + ah·bl) mod 2^32)·2^32)
  * mod 2^64, every intermediate < 2^66 — and `^`/signed-min hop
  * through BIGINT via explicit signed↔unsigned conversions. SplitMix64
  * is staged as four `list_transform` passes so each lambda body stays
  * small instead of exponentially inlining its argument. The same
  * mirror-the-fold idea as the vector `dotSql` (ExtensionQueries):
  * identical op sequence ⇒ bit-identical results, so the driver's
  * hash compare can gate queries whose values are raw 64-bit hashes.
  *
  * ASCII note: the generator folds per UTF-16 code unit exactly like
  * `ShingleHashes` (low byte, then high byte), using `unicode()`
  * codepoints — identical to code units for BMP text, and the
  * documents fixture is pure ASCII (codepoints 32..121; verified).
  * `lower()` on ASCII matches Java's per-char `toLowerCase`.
  */
private[queries] object HashSql {

  private val M64 = "CAST('18446744073709551616' AS HUGEINT)" // 2^64
  private val M32 = "CAST('4294967296' AS HUGEINT)" // 2^32
  private val HALF = "CAST('9223372036854775808' AS HUGEINT)" // 2^63

  /** A Long's unsigned value as a HUGEINT literal. */
  def u(l: Long): String =
    s"CAST('${java.lang.Long.toUnsignedString(l)}' AS HUGEINT)"

  /** unsigned [0,2^64) -> signed BIGINT (two's complement). */
  def toS(x: String): String =
    s"CAST((CASE WHEN ($x) >= $HALF THEN ($x) - $M64 ELSE ($x) END) AS BIGINT)"

  /** Bitwise XOR in the unsigned domain. DuckDB's `xor` operates on
    * HUGEINT directly, and for operands in [0, 2^64) the 128-bit
    * result equals the 64-bit unsigned xor — no signed round-trip
    * (which would cost several CASE branches per call in the hot
    * per-row path). */
  def ux(a: String, b: String): String = s"xor($a, $b)"

  /** (a * bConst) mod 2^64 by 32-bit limb splitting; `a` unsigned. */
  def mulmod(a: String, bConst: Long): String = {
    val bl = bConst & 0xffffffffL
    val bh = bConst >>> 32
    val al = s"(($a) % $M32)"
    val ah = s"(($a) // $M32)"
    val lowProd = s"($al * $bl)"
    val crossMod = s"((($al * $bh) + ($ah * $bl)) % $M32)"
    s"(($lowProd + ($crossMod * $M32)) % $M64)"
  }

  /** SplitMix64 finalizer over a LIST column, staged as four small
    * list_transform passes (mirrors [[Hashing.mix64]] op for op). */
  def mixList(lst: String): String = {
    val s1 = s"list_transform($lst, x -> ((x + ${u(0x9e3779b97f4a7c15L)}) % $M64))"
    val s2 = s"list_transform($s1, x -> ${mulmod(ux("x", "(x // 1073741824)"), 0xbf58476d1ce4e5b9L)})"
    val s3 = s"list_transform($s2, x -> ${mulmod(ux("x", "(x // 134217728)"), 0x94d049bb133111ebL)})"
    s"list_transform($s3, x -> ${ux("x", "(x // 2147483648)")})"
  }

  /** Mixed per-token hashes of a text column (list<HUGEINT>, document
    * order, duplicates kept) — mirrors the tokenize+FNV+mix sweep in
    * `ShingleHashes.nullSafeEval`: split on the shared whitespace
    * class, lowercase, FNV-1a over each char's two UTF-16 bytes, then
    * the SplitMix64 finalizer per token. */
  def tokenHashes(textCol: String): String = {
    val ws = graft.functions.TextFunctions.wsClass
    val lowByte = mulmod(ux("h", "((c) % 256)"), Hashing.FnvPrime)
    val perChar = mulmod(ux(lowByte, "(((c) // 256) % 256)"), Hashing.FnvPrime)
    mixList(
      s"list_transform(" +
        s"list_filter(regexp_split_to_array(lower($textCol), '$ws+'), t -> t <> '')," +
        s" t -> list_reduce(" +
        s"list_prepend(${u(Hashing.FnvOffset)}," +
        s" list_transform(range(1, length(t) + 1), i -> CAST(unicode(t[i]) AS HUGEINT)))," +
        s" (h, c) -> $perChar))")
  }

  /** Unmixed FNV-1a 64 over a text column's UTF-8 BYTES (mirrors
    * [[Hashing.fnv64]] on `text.getBytes("UTF-8")` — for the ASCII
    * fixture, bytes == codepoints). Apply the SplitMix64 stages
    * (e.g. [[mixCtes]]) downstream. */
  def textFnvU(textCol: String): String = {
    val perByte = mulmod(ux("h", "c"), Hashing.FnvPrime)
    s"list_reduce(list_prepend(${u(Hashing.FnvOffset)}," +
      s" list_transform(range(1, length($textCol) + 1)," +
      s" i -> CAST(unicode($textCol[i]) AS HUGEINT))), (h, c) -> $perByte)"
  }

  private val ShingleBase = 1125899906842597L

  /** DISTINCT mixed shingle hashes over a (mixed) token-hash list
    * column — mirrors the three branches of `ShingleHashes`: no
    * tokens ⇒ the constant mix64(FNV offset); fewer than n ⇒ one
    * whole-document shingle; else every n-token window, each folded
    * `acc = acc·FNV_PRIME + tokenHash` from base 1125899906842597 and
    * finalized with SplitMix64. */
  def shingleHashes(thsCol: String, n: Int): String =
    s"list_distinct(${shingleHashesAll(thsCol, n)})"

  /** All mixed shingle hashes WITH duplicates (document order) — the
    * same three branches as [[shingleHashes]] minus the distinct:
    * the repetition-statistics replay needs multiplicities. */
  def shingleHashesAll(thsCol: String, n: Int): String = {
    def fold(lst: String): String =
      s"list_reduce(list_prepend(${u(ShingleBase)}, $lst)," +
        s" (acc, th) -> ((${mulmod("acc", Hashing.FnvPrime)} + th) % $M64))"
    val emptyDoc = u(Hashing.mix64(Hashing.FnvOffset))
    val whole = mixList(s"[${fold(thsCol)}]")
    val windows = mixList(
      s"list_transform(range(1, len($thsCol) - ${n - 1} + 1)," +
        s" i -> ${fold(s"($thsCol[i:i+${n - 1}])")})")
    s"(CASE WHEN len($thsCol) = 0 THEN [$emptyDoc]" +
      s" WHEN len($thsCol) < $n THEN $whole ELSE $windows END)"
  }

  /** mix64 of the order-sensitive FNV fold of a (mixed) hash-list
    * column from the shingle base — ONE shingle/chunk hash, the
    * scalar form of [[shingleHashesAll]]'s window fold (the CDC
    * chunk-hash replay). */
  def foldHashSql(lst: String): String = {
    val folded = s"list_reduce(list_prepend(${u(ShingleBase)}, $lst)," +
      s" (acc, th) -> ((${mulmod("acc", Hashing.FnvPrime)} + th) % $M64))"
    s"(${mixList(s"[$folded]")})[1]"
  }

  /** The engine's empty-document chunk hash (mix64 of the bare
    * shingle base) as a HUGEINT literal. */
  def emptyChunkHash: String = u(Hashing.mix64(ShingleBase))

  /** UNMIXED 2-element shingle fold ((base·P + a)·P + b) mod 2^64 —
    * the CDC boundary-window hash input; run the SplitMix64 stages
    * ([[mixCtes]]) downstream. NULL `a` (no predecessor) propagates
    * to a NULL result. */
  def pairFoldU(a: String, b: String): String = {
    val bp = u(ShingleBase * Hashing.FnvPrime) // wrapping const fold base·P
    s"((${mulmod(s"(($bp + $a) % $M64)", Hashing.FnvPrime)} + $b) % $M64)"
  }

  /** Four chained CTEs applying the SplitMix64 stages to a column
    * `x` carried alongside `keys` — the exploded-rows (vectorized,
    * lambda-free) variant of [[mixList]]: per-row column arithmetic
    * is orders of magnitude faster in DuckDB than per-element list
    * lambdas when the hash×salt cross product gets large. Emits
    * `<p>1 AS (...), ..., <p>4 AS (...)`; read the result from
    * `<p>4.x`. */
  def mixCtes(p: String, src: String, keys: String): String = {
    // MATERIALIZED is load-bearing: DuckDB's projection-merge
    // substitutes each stage's x into the next stage's expression
    // with NO common-subexpression elimination — x appears ~12× per
    // stage, so four merged stages evaluate stage 1 ~1700×. A
    // materialization boundary per stage keeps the work linear
    // (measured 46 s → ~2 s on the sf0.01 hash×salt product).
    def cte(name: String, from: String, expr: String) =
      s"$name AS MATERIALIZED (SELECT $keys, $expr AS x FROM $from)"
    Seq(
      cte(s"${p}1", src, s"((x + ${u(0x9e3779b97f4a7c15L)}) % $M64)"),
      cte(s"${p}2", s"${p}1", mulmod(ux("x", "(x // 1073741824)"), 0xbf58476d1ce4e5b9L)),
      cte(s"${p}3", s"${p}2", mulmod(ux("x", "(x // 134217728)"), 0x94d049bb133111ebL)),
      cte(s"${p}4", s"${p}3", ux("x", "(x // 2147483648)"))
    ).mkString(",\n")
  }

  /** Per-hash-function salt table rows `(salt_idx, s)` replayed from
    * [[Hashing.salts]], for a `VALUES` clause. */
  def saltRows(numHashes: Int, seed: Long): String =
    Hashing.salts(numHashes, seed).zipWithIndex
      .map { case (s, i) => s"($i, ${u(s)})" }.mkString(", ")
}
