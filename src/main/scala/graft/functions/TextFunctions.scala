package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-pipeline primitives for LLM-scale dedup/fingerprinting, built
  * entirely from codegen'd higher-order functions — no UDFs, so every
  * expression stays inside WholeStageCodegen and is portable to the
  * DuckDB oracle (md5 + lexicographic min + integer folds are
  * engine-independent by construction).
  */
object TextFunctions {

  private val hexHigh = Seq("8", "9", "a", "b", "c", "d", "e", "f")

  /** Word n-gram shingles (space-joined), empty array for short docs. */
  def shingles(words: Column, n: Int): Column =
    when(size(words) < n, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), size(words) - (n - 1)),
        i => array_join(slice(words, i, lit(n)), " ")))

  /** MinHash signature: k independent "hash functions" realized as
    * md5(i ':' shingle) with the lexicographic minimum per slot — string
    * min over 32-hex-char digests is uniform and identical in any engine
    * (no 64-bit hash library needed). One pass over the shingle array,
    * no explode, no shuffle (cf. Broder 1997 resemblance sketches).
    */
  def minhashSignature(shingleCol: Column, k: Int): Column =
    transform(sequence(lit(0), lit(k - 1)),
      i => array_min(transform(shingleCol,
        sh => md5(concat(i.cast("string"), lit(":"), sh).cast("binary")))))

  /** LSH band keys: digest of each band of `rowsPerBand` signature slots.
    * Docs sharing any band key become candidate pairs — the classic
    * banding construction (Leskovec/Rajaraman/Ullman MMDS ch.3).
    */
  def lshBands(sig: Column, nBands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(nBands - 1)),
      b => md5(concat(b.cast("string"), lit("|"),
        array_join(slice(sig, b * rowsPerBand + 1, lit(rowsPerBand)), "|")).cast("binary")))

  /** Fraction of equal signature slots — the MinHash Jaccard estimate. */
  def signatureSimilarity(s1: Column, s2: Column, k: Int): Column =
    size(filter(zip_with(s1, s2, (a, b) => a === b), x => x)).cast("double") / k

  /** 16-bit SimHash over the token multiset: per bit position i, sum +1/-1
    * by the high bit of hex digit i of each token's md5; the sign is the
    * simhash bit (Charikar 2002). Returned as a "0"/"1" string so prefix
    * bucketing and per-position hamming are plain string ops.
    */
  def simhash16(words: Column): Column = {
    val hashes = transform(words, w => md5(w.cast("binary")))
    array_join(
      transform(sequence(lit(1), lit(16)), i =>
        when(aggregate(hashes, lit(0),
          (acc, h) => acc + when(h.substr(i, lit(1)).isin(hexHigh: _*), 1).otherwise(-1)
        ) >= 0, lit("1")).otherwise(lit("0"))),
      "")
  }

  /** Polynomial rolling hash (base 31, mod 1e9+7) over the characters —
    * a portable document fingerprint computed as a left fold (seed 0 ==
    * seed-first semantics because 0*31+c == c).
    */
  def rollingHash(text: Column): Column =
    aggregate(
      transform(split(text, ""), c => ascii(c).cast("long")),
      lit(0L),
      (acc, x) => (acc * 31L + x) % 1000000007L)

  /** BPE-flavored subword-ish tokenizer: letter runs, digit runs, and
    * single punctuation marks as separate tokens (the GPT-2 pre-tokenizer
    * regex family, simplified to an engine-portable character-class form).
    */
  def bpeTokens(text: Column): Column =
    regexp_extract_all(text, lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))

  /** FIXED learned BPE merge table (Sennrich et al. 2016), applied in
    * rank order by [[bpeEncodeWord]]. Provenance: 10 rounds of exact
    * sequential character-level BPE learning over the sf0.01 `documents`
    * corpus (count adjacent symbol pairs across all word occurrences,
    * merge the most frequent, ties → lexicographically smallest pair,
    * recount) — ranks 6 (`m`+`er`) and 10 (`p`+`ar`) consume symbols
    * produced by earlier merges, so applying the table exercises real
    * multi-level BPE, not just bigram gluing. A production pipeline
    * swaps in its tokenizer's merge file PROVIDED it passes
    * [[validateMerges]] — the replace-chain encoding is only exact for
    * right-prefix-free tables (see [[bpeEncodeWord]]); tables that
    * violate the precondition need a token-boundary-aware encoder.
    */
  val BpeMerges: Seq[(String, String)] = Seq(
    "e" -> "r", "i" -> "n", "o" -> "w", "o" -> "r", "s" -> "t",
    "m" -> "er", "a" -> "t", "l" -> "u", "a" -> "r", "p" -> "ar")

  /** The replace-chain encoding's PRECONDITION (see [[bpeEncodeWord]]):
    * the pattern `' a b'` is left-anchored (token `a` must end exactly
    * where the embedded separator sits) but RIGHT-OPEN — it would also
    * match where the following token merely STARTS with `b`. At rank k
    * the live symbols are single characters plus the outputs of ranks
    * < k, and no single character can have a multi-char proper prefix,
    * so the encoding is exact iff no earlier merged symbol has rank
    * k's `b` as a proper prefix. E.g. the table
    * [("b","c"), ("a","b")] fails: after rank 1, "abc" is [a, bc], and
    * rank 2's pattern `' a b'` matches the PREFIX of token "bc",
    * yielding [abc] where reference BPE leaves [a, bc]. Throws on the
    * first violating rank.
    */
  def validateMerges(merges: Seq[(String, String)]): Unit =
    merges.zipWithIndex.foreach { case ((_, b), k) =>
      merges.take(k).foreach { case (pa, pb) =>
        val m = pa + pb
        require(!(m.startsWith(b) && m != b),
          s"merge table rank ${k + 1}: second element '$b' is a proper prefix of " +
            s"earlier merged symbol '$m' — the replace-chain encoding would " +
            "merge across a token boundary; use a boundary-aware encoder for this table")
      }
    }

  validateMerges(BpeMerges)

  /** Apply the merge table to ONE word, returning its token array.
    *
    * Encoding trick (engine-portable, zero UDF): the symbol sequence is
    * a LEADING-separator string `" c1 c2 …"`, and merge (a, b) is the
    * plain string replace `" a b" → " ab"`. The leading-separator form
    * is load-bearing: the pattern's LEFT side is boundary-exact (`" a"`
    * anchors to a token start, and the separator before `b` forces
    * token `a` to end exactly there), and because the pattern does NOT
    * consume the next token's separator, back-to-back merges chain —
    * `[e,e,e,e]` under (e,e) gives `[ee,ee]` exactly like the
    * left-to-right non-overlapping BPE scan. (A surrounding-separator
    * pattern `" a b "` eats the separator the next match needs and
    * yields `[ee,e,e]` — the bug the Round9 spec pins.) Both engines'
    * `replace` scan the input left-to-right without rescanning replaced
    * output, which is exactly one BPE merge pass.
    *
    * The pattern's RIGHT side is OPEN — nothing anchors token `b`'s
    * end, so `" a b"` would also match where the following token merely
    * STARTS with `b`. Exactness therefore requires the
    * [[validateMerges]] precondition (no earlier merged symbol has a
    * later rank's `b` as a proper prefix), checked once at class load
    * for [[BpeMerges]].
    */
  def bpeEncodeWord(w: Column): Column =
    split(ltrim(bpeApplyMerges(bpeSpacedWord(w), BpeMerges)), " ")

  /** A word as its leading-separator symbol string `" c1 c2 …"` — the
    * replace-chain encoding's working form (see [[bpeEncodeWord]]).
    */
  def bpeSpacedWord(w: Column): Column =
    concat(lit(" "), array_join(split(w, ""), " "))

  /** Apply a merge table (rank order) to a leading-separator symbol
    * string — the parameterized core of [[bpeEncodeWord]], shared with
    * the TRAINER ([[graft.operators.BpeTrainer]]), which applies the
    * table learned so far before each counting round.
    */
  def bpeApplyMerges(spaced: Column, merges: Seq[(String, String)]): Column =
    merges.foldLeft(spaced) { case (s, (a, b)) =>
      call_function("replace", s, lit(s" $a $b"), lit(s" $a$b"))
    }

  /** Whole-document BPE token stream: per-word encode, word order
    * preserved, flattened — pure per-row HOF work, no shuffle.
    */
  def bpeEncodeDoc(text: Column): Column =
    flatten(transform(
      filter(split(text, " "), w => w =!= ""),
      w => bpeEncodeWord(w)))
}
