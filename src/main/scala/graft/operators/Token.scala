package graft.operators

import graft.Catalog.{Entry, Q}
import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Tokenizer-design tier (round 15): the corpus statistics a tokenizer
  * build (BPE / SentencePiece-style) reads off a training corpus before
  * any model sees a batch — merge-candidate pair counts, vocabulary
  * coverage / OOV mass, subword fertility, byte-vs-char width, and
  * alphabet (byte-fallback) coverage. Each is a scan-shaped aggregate:
  * explode to the unit of interest (word, char pair, char), one
  * map-side-combining hash aggregate, and a vocab-bounded join where a
  * reference vocabulary is involved — shapes that scale out on corpus
  * bytes with no stage beyond the aggregates.
  *
  * Determinism: counts are exact longs; every rate is ONE divide through
  * Num.roundd at 6; top-k vocabularies order by (count DESC, token ASC)
  * — a total order, so the boundary of the vocab is engine-identical.
  * Character indexing uses the explicit 1-based substring device on both
  * engines (Spark `substring(w, i, 2)` ≡ DuckDB `w[i:i+1]`), never a
  * locale- or regex-dependent splitter.
  */
object Token {
  /** Adjacent character-pair frequencies over in-word positions — the
    * statistic the FIRST BPE merge maximizes (Sennrich et al., 2016
    * reads exactly this table each round). Top 50 by (count, pair).
    *
    * r16: pairs explode from the compressed word-frequency table (the
    * q_text_bpe_step device), not from raw occurrences — the per-char
    * substring work shrinks by the corpus' word-duplication factor
    * (exactly how a real BPE trainer iterates: over the word-count
    * table, never the corpus), and the pair count is the
    * occurrence-weighted sum, identical arithmetic in both engines. */
  val qTokBpePairs: Q = (s, d) => {
    val wf = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy("w").agg(count(lit(1)).as("c"))
    wf.select(explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).as("pair"),
        col("c"))
      .groupBy("pair").agg(sum("c").as("cnt"))
      .orderBy(col("cnt").desc, col("pair")).limit(50)
  }

  /** Subword fertility per language under a max-piece-length-4 toy
    * segmenter: pieces(w) = ⌈|w|/4⌉, fertility = pieces per word — the
    * "how many subwords does a word cost in this language" planning
    * number (integer formula (len+3) div 4, no float until the one
    * rounded divide). */
  val qTokFertility: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("lang"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_words"),
        sum(expr("(length(w) + 3) div 4")).as("n_pieces"))
      .withColumn("fertility",
        Num.roundd(col("n_pieces").cast("double") / col("n_words"), 6))
      .orderBy("lang")

  /** Vocabulary coverage: the top-1000 words by corpus frequency play the
    * fixed vocab; per source, the share of word OCCURRENCES falling
    * outside it (OOV mass — the quantity that decides vocab size). The
    * vocab is a bounded top-k (count DESC, word ASC — total order) and
    * re-enters as a broadcast dim; the coverage pass is one aggregate. */
  val qTokVocabCoverage: Q = (s, d) => {
    val words = Tables.documents(s, d)
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
    val vocab = words.groupBy("w").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w")).limit(1000)
      .select(col("w").as("vw"))
    words.join(broadcast(vocab), col("w") === col("vw"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("vw").isNotNull, 1L).otherwise(0L)).as("n_in_vocab"))
      .withColumn("oov_rate", Num.roundd(
        (col("n_tokens") - col("n_in_vocab")).cast("double") / col("n_tokens"), 6))
      .orderBy("source")
  }

  /** UTF-8 width per language: byte and char totals with bytes-per-char —
    * the "how much of this corpus becomes multi-byte fallback" axis a
    * byte-level tokenizer budget needs. Exact long sums, one divide. */
  val qTokByteRatio: Q = (s, d) =>
    Tables.documents(s, d)
      .groupBy("lang")
      .agg(sum(octet_length(col("text")).cast("long")).as("bytes"),
        sum(length(col("text")).cast("long")).as("chars"))
      .withColumn("bytes_per_char",
        Num.roundd(col("bytes").cast("double") / col("chars"), 6))
      .orderBy("lang")

  /** Alphabet coverage: the top-64 characters by corpus frequency form
    * the core alphabet; per language, the share of character occurrences
    * OUTSIDE it — the byte-fallback rate a fixed-alphabet tokenizer
    * would pay.
    *
    * r16: ONE char explode into the (lang, ch) count grid — ≤ langs ×
    * charset rows, the sufficient statistic for BOTH the top-64 alphabet
    * and the per-lang coverage arithmetic — folded driver-side (the
    * qStatChi2 bounded-manifest device). The previous shape exploded
    * every character TWICE (alphabet derivation + coverage join) and ran
    * a corpus-sized broadcast join at row-per-character grain; this one
    * is a single map-side-combining aggregate whose shuffle is the grid.
    * Alphabet boundary ties order by UTF-8 bytes — the binary collation
    * both engines sort strings with. */
  val qTokAlphabetCoverage: Q = (s, d) => {
    // split-by-empty is the LINEAR char explode: substring(text, i, 1)
    // re-walks the UTF-8 bytes from the start for every i (O(doc²) per
    // document — the r15 form's hidden wall), while split('') emits each
    // code point in one pass. Spark yields no empty element (DuckDB's
    // string_split('', '') yields [''], hence the oracle's ch <> ''
    // guard; the corpus has no empty texts either way).
    val grid = Tables.documents(s, d)
      .select(col("lang"), explode(split(col("text"), "")).as("ch"))
      .groupBy("lang", "ch").agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    require(grid.length <= 100000,
      s"qTokAlphabetCoverage: (lang, ch) grid ${grid.length} exceeds the driver-fold bound")
    def utf8Lt(a: String, b: String): Boolean = {
      val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val n = math.min(x.length, y.length)
      var i = 0
      while (i < n) {
        val c = (x(i) & 0xff) - (y(i) & 0xff)
        if (c != 0) return c < 0
        i += 1
      }
      x.length < y.length
    }
    val alphabet = grid.groupBy(_._2).view.mapValues(_.map(_._3).sum).toSeq
      .sortWith((a, b) => a._2 > b._2 || (a._2 == b._2 && utf8Lt(a._1, b._1)))
      .take(64).map(_._1).toSet
    val out = grid.groupBy(_._1).toSeq.map { case (lang, cells) =>
      val nChars = cells.map(_._3).sum
      val nIn = cells.filter(c => alphabet.contains(c._2)).map(_._3).sum
      (lang, nChars, nIn, Num.rounddD((nChars - nIn).toDouble / nChars, 6))
    }.sortWith((a, b) => utf8Lt(a._1, b._1))
    import s.implicits._
    out.toDF("lang", "n_chars", "n_in_alphabet", "fallback_rate")
      .orderBy("lang")
  }

  val all: Seq[Entry] = Seq(
    Entry("q_tok_bpe_pairs", qTokBpePairs, Some(
      "WITH wf AS (SELECT w, CAST(count(*) AS BIGINT) c FROM (" +
        "SELECT unnest(string_split(text, ' ')) w FROM documents) WHERE len(w) >= 2 GROUP BY w) " +
        "SELECT pair, CAST(sum(c) AS BIGINT) cnt FROM (" +
        "SELECT unnest(list_transform(range(1, len(w)), i -> w[i:i+1])) pair, c FROM wf) " +
        "GROUP BY pair ORDER BY cnt DESC, pair LIMIT 50")),
    Entry("q_tok_fertility", qTokFertility, Some(
      "SELECT lang, CAST(count(*) AS BIGINT) n_words, " +
        "CAST(sum((len(w) + 3) // 4) AS BIGINT) n_pieces, " +
        "round(CAST(sum((len(w) + 3) // 4) AS DOUBLE) / count(*), 6) fertility FROM (" +
        "SELECT lang, unnest(string_split(text, ' ')) w FROM documents) " +
        "WHERE w <> '' GROUP BY lang ORDER BY lang")),
    Entry("q_tok_vocab_coverage", qTokVocabCoverage, Some(
      "WITH ww AS (SELECT source, w FROM (" +
        "SELECT source, unnest(string_split(text, ' ')) w FROM documents) WHERE w <> ''), " +
        "v AS (SELECT w vw FROM ww GROUP BY w ORDER BY count(*) DESC, w LIMIT 1000) " +
        "SELECT source, CAST(count(*) AS BIGINT) n_tokens, " +
        "CAST(sum(CASE WHEN vw IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) n_in_vocab, " +
        "round(CAST(count(*) - sum(CASE WHEN vw IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) oov_rate " +
        "FROM ww LEFT JOIN v ON v.vw = ww.w GROUP BY source ORDER BY source")),
    Entry("q_tok_byte_ratio", qTokByteRatio, Some(
      "SELECT lang, CAST(sum(strlen(text)) AS BIGINT) bytes, " +
        "CAST(sum(len(text)) AS BIGINT) chars, " +
        "round(CAST(sum(strlen(text)) AS DOUBLE) / sum(len(text)), 6) bytes_per_char " +
        "FROM documents GROUP BY lang ORDER BY lang")),
    Entry("q_tok_alphabet_coverage", qTokAlphabetCoverage, Some(
      "WITH g AS (SELECT lang, ch, CAST(count(*) AS BIGINT) cnt FROM (" +
        "SELECT lang, unnest(string_split(text, '')) ch FROM documents) WHERE ch <> '' " +
        "GROUP BY lang, ch), " +
        "a AS (SELECT ch ac FROM g GROUP BY ch ORDER BY sum(cnt) DESC, ch LIMIT 64) " +
        "SELECT lang, CAST(sum(cnt) AS BIGINT) n_chars, " +
        "CAST(sum(CASE WHEN ac IS NOT NULL THEN cnt ELSE 0 END) AS BIGINT) n_in_alphabet, " +
        "round(CAST(sum(cnt) - sum(CASE WHEN ac IS NOT NULL THEN cnt ELSE 0 END) AS DOUBLE) / sum(cnt), 6) fallback_rate " +
        "FROM g LEFT JOIN a ON a.ac = g.ch GROUP BY lang ORDER BY lang")))
}
