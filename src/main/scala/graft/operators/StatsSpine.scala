package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** FILE-SKIPPING PREDICATES over a [[VersionedTable]] manifest — the
  * one file-level metadata store of the engine: a row per live data
  * file with row count, per-column `min_<c>` / `max_<c>`, and the
  * file's Bloom bitmap over the table's key column. The manifest is
  * built and folded by [[VersionedTable]]'s verbs; this object holds
  * only the two questions a planner asks of it:
  *
  *  - [[survivors]]: which files can hold `c BETWEEN lo AND hi`
  *    (min/max range skipping);
  *  - [[rosterHolders]]: which files can hold ANY key of a roster
  *    (Bloom point skipping — the case min/max cannot serve when the
  *    layout clusters some other column).
  *
  * Both are SUPERSET guarantees: the caller re-applies the exact
  * predicate to the surviving files' rows.
  */
object StatsSpine {

  /** Manifest rows whose [min_c, max_c] interval intersects [lo, hi].
    * min/max aggregate over non-null values, so a file whose column is
    * entirely null carries null bounds, fails the conjunction, and is
    * pruned — correct, because a range predicate never accepts null. A
    * file with SOME nulls keeps its non-null bounds and survives
    * whenever a non-null row could match.
    */
  def survivors(spine: DataFrame, c: String, lo: Any, hi: Any): DataFrame =
    spine.filter(col(s"min_$c") <= lit(hi) && col(s"max_$c") >= lit(lo))

  /** Probe positions for a ROSTER of keys, computed DISTRIBUTED as
    * (k, word_idx, mask, n_words) rows — one row per bitmap word a
    * key touches (≤ 4), with that key's bits in the word OR-folded
    * into `mask`. The position arithmetic is the SQL stated in
    * [[graft.functions.BloomFilterAgg]]'s contract
    * (`conv(substring(md5(k), 1+8i, 8), 16, 10) % m`), so the
    * distributed probe addresses bit-identical positions to the
    * driver-side [[graft.functions.BloomFilterAgg.positions]] and the
    * aggregate that built the bitmaps. The words are a pure function
    * of the key, so they come from one projection per key, with no
    * aggregation or self-join. The key stays `distinct()`: a duplicate
    * key would double its `hits` in [[rosterHolders]] and turn holders
    * into false negatives.
    */
  private[graft] def rosterWords(roster: DataFrame, keyCol: String,
                                 mBits: Int): DataFrame = {
    val keys = roster.select(col(keyCol).cast("string").as("k"))
      .filter(col("k").isNotNull).distinct()
    val ps = (0 until graft.functions.BloomFilterAgg.NumHashes).map(i =>
      s"CAST(conv(substring(md5(k), ${1 + 8 * i}, 8), 16, 10) AS BIGINT) % $mBits")
    keys.select(col("k"), expr(ps.mkString("array(", ", ", ")")).as("ps"))
      .select(col("k"), col("ps"),
        expr("array_distinct(transform(ps, p -> p DIV 64))").as("ws"))
      .select(col("k"), size(col("ws")).cast("long").as("n_words"),
        explode(expr("transform(ws, w -> named_struct('word_idx', w, 'mask', " +
          "aggregate(filter(ps, p -> p DIV 64 = w), CAST(0 AS BIGINT), " +
          "(m, p) -> m | shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT)))))"))
          .as("w"))
      .select(col("k"), col("w.word_idx").as("word_idx"), col("w.mask").as("mask"),
        col("n_words"))
  }

  /** Files whose bloom says they might hold ANY roster key, as a JOIN:
    * a literal predicate unrolls keys×4 bit-tests into ONE Column tree,
    * which stops compiling around hundreds of keys; a GDPR roster has
    * millions. Here the k×f probe work (inherent to bloom probing —
    * every key tests against every file's bitmap) runs as a
    * distributed hash join instead: the manifest explodes to (file,
    * word_idx, word) rows, roster positions join on `word_idx`, and a
    * key hits a file when ALL its words match their masks. Shuffled,
    * spillable, no driver expression of roster size.
    *
    * Scale shape: probe volume ≈ 4·|roster|·|files| join rows — the
    * probe count itself, distributed. Past the point where that
    * exceeds one table scan (|roster| ≳ rows-per-file), skip the
    * bloom and semi-join the roster against the data instead; below
    * it (the common case — files outnumber rosters by orders of
    * magnitude less than rows do) the probe never touches a data byte.
    */
  def rosterHolders(bloomSpine: DataFrame, roster: DataFrame,
                    keyCol: String, mBits: Int): DataFrame = {
    val rw = rosterWords(roster, keyCol, mBits)
    val bw = bloomSpine
      .select(col("file"), posexplode(col("bloom")).as(Seq("wi", "word")))
      .select(col("file"), col("wi").cast("long").as("word_idx"), col("word"))
    bw.join(rw, "word_idx")
      .filter(col("word").bitwiseAND(col("mask")) === col("mask"))
      .groupBy(col("file"), col("k"), col("n_words"))
      .agg(count(lit(1)).as("hits"))
      .filter(col("hits") === col("n_words"))
      .select("file").distinct()
  }
}
