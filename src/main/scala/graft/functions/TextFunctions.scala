package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis column functions for large-scale training-data
  * pipelines. Everything is composed from codegen'd builtins —
  * `split`/`regexp_*`/`aggregate`/`transform` — no Scala UDFs, so the
  * whole pack stays inside whole-stage codegen and scales linearly
  * with input splits.
  */
object TextFunctions {

  /** Whitespace token count. */
  def tokenCount(text: Column): Column =
    size(split(trim(text), "\\s+"))

  /** BPE-ish subword count: word-chunks + digits + punctuation each
    * count as a token (regexp over the raw text).
    */
  def subwordCount(text: Column): Column =
    size(regexp_extract_all(text, lit("""[A-Za-z]{1,4}|\d|[^\sA-Za-z\d]"""), lit(0)))

  def charCount(text: Column): Column = length(text)

  /** Stopword ratio over a fixed English stopword list. */
  private val stopwords = Seq("the", "a", "an", "and", "or", "of", "to", "in",
    "is", "it", "that", "was", "for", "on", "with", "as", "at", "by")

  def stopwordRatio(text: Column): Column = {
    val words = split(lower(trim(text)), "\\s+")
    val stops = filter(words, w => w.isin(stopwords: _*))
    when(size(words) > 0, size(stops).cast("double") / size(words).cast("double"))
      .otherwise(lit(0.0))
  }

  /** Punctuation-to-character ratio. */
  def punctRatio(text: Column): Column =
    when(length(text) > 0,
      length(regexp_replace(text, """[^\p{Punct}]""", "")).cast("double")
        / length(text).cast("double"))
      .otherwise(lit(0.0))

  def upperRatio(text: Column): Column =
    when(length(text) > 0,
      length(regexp_replace(text, "[^A-Z]", "")).cast("double")
        / length(text).cast("double"))
      .otherwise(lit(0.0))

  def meanWordLength(text: Column): Column = {
    val words = split(trim(text), "\\s+")
    when(size(words) > 0,
      aggregate(words, lit(0L), (acc, w) => acc + length(w)).cast("double")
        / size(words).cast("double"))
      .otherwise(lit(0.0))
  }

  /** Composite quality score in [0,1]: long-enough docs with moderate
    * punctuation, some stopwords (prose-like), and mixed case score
    * high. Deterministic, tunable weights.
    */
  def qualityScore(text: Column): Column = {
    val lenScore = least(charCount(text).cast("double") / 500.0, lit(1.0))
    val stopScore = least(stopwordRatio(text) * 4.0, lit(1.0))
    val punctPenalty = greatest(lit(0.0), lit(1.0) - punctRatio(text) * 5.0)
    val upperPenalty = greatest(lit(0.0), lit(1.0) - upperRatio(text) * 3.0)
    round(lenScore * 0.3 + stopScore * 0.3 + punctPenalty * 0.2 + upperPenalty * 0.2, 6)
  }

  /** N-gram language-ID heuristic: score per language = fraction of
    * that language's top trigrams/stopwords present. Tiny fixed
    * profiles — broadcastable by construction (they're literals in
    * the plan).
    */
  private val langProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq(" the ", " and ", " of ", " to ", " is ", " that "),
    "de" -> Seq(" der ", " die ", " und ", " das ", " ist ", " nicht "),
    "fr" -> Seq(" le ", " la ", " et ", " les ", " des ", " est "),
    "es" -> Seq(" el ", " la ", " de ", " que ", " los ", " es "))

  def langId(text: Column): Column = {
    val padded = concat(lit(" "), lower(text), lit(" "))
    val scores: Seq[(String, Column)] = langProfiles.toSeq.sortBy(_._1).map {
      case (lang, marks) =>
        lang -> marks.map(m => when(padded.contains(m), 1).otherwise(0))
          .reduce(_ + _)
    }
    // argmax with deterministic tie-break on language code order;
    // no marker hit at all → "und" (undetermined)
    val best = scores.map(_._2).reduce(greatest(_, _))
    val pick = scores.foldRight(lit("und")) { case ((lang, sc), acc) =>
      when(sc === best && best > 0, lit(lang)).otherwise(acc)
    }
    pick
  }

  /** Document fingerprint: 64-bit rolling-style content hash over
    * normalized text (xxhash64 of the lowercased, space-collapsed
    * body) — the cheap exact-dup key.
    */
  def fingerprint(text: Column): Column =
    xxhash64(regexp_replace(lower(trim(text)), "\\s+", " "))

  /** Normalized word array: lowercase, trim, collapse whitespace,
    * split on single spaces — THE tokenization every gram/span/count
    * path shares (the DuckDB oracles mirror it as `normText`).
    * Change it here and nowhere else: span offsets, token counts,
    * and gram strings must stay mutually consistent.
    */
  def normWords(text: Column): Column =
    split(regexp_replace(lower(trim(text)), "\\s+", " "), " ")

  /** Word shingles of size k as an array column. */
  def shingles(text: Column, k: Int): Column = {
    val words = normWords(text)
    val n = size(words)
    when(n >= k,
      transform(sequence(lit(0), n - k),
        i => concat_ws(" ", slice(words, i + 1, lit(k)))))
      .otherwise(array(concat_ws(" ", words)))
  }

  /** Exploded word-shingle rows (id, s) computed ENTIRELY with
    * codegen'd expressions — split / slice / arrays_zip / explode /
    * concat_ws, no higher-order lambdas. Produces exactly the rows of
    * `explode(shingles(text, k))` (k shifted slices zipped; short
    * docs fall back to one whole-normalized-text shingle, expressed
    * as a struct whose tail words are null — concat_ws skips nulls)
    * but 3-12× faster: `transform` lambdas run interpreted, and this
    * explode feeds every signature/Jaccard hot path.
    */
  def shingleRows(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val words = normWords(col(textCol))
    if (k == 1) df.select(col(idCol).as("id"), explode(words).as("s"))
    else {
      val nw = size(words)
      val slices = (0 until k).map(i =>
        slice(words, lit(i + 1), nw - (k - 1)).as(s"w$i"))
      val zipped = arrays_zip(slices: _*)
      val fallback = array(struct(
        concat_ws(" ", words).as("w0") +:
          (1 until k).map(i => lit(null).cast("string").as(s"w$i")): _*))
      df.select(col(idCol).as("id"),
        explode(when(nw >= k, zipped).otherwise(fallback)).as("z"))
        .select(col("id"),
          concat_ws(" ", (0 until k).map(i => col(s"z.w$i")): _*).as("s"))
    }
  }

  /** Positional word-shingle rows (id, pos, s): `shingleRows` plus
    * each gram's 0-based starting token offset. Documents shorter
    * than k tokens produce NO rows — no whole-text fallback here,
    * unlike `shingleRows`, because consumers index positions into
    * the token sequence (and a duplicated span of length ≥ k cannot
    * start in a shorter doc anyway). Same codegen-only construction
    * (slice / arrays_zip / posexplode — no higher-order lambdas).
    */
  def shingleRowsWithPos(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    val words = normWords(col(textCol))
    if (k == 1)
      df.select(col(idCol).as("id"), posexplode(words).as(Seq("pos", "s")))
    else {
      val nw = size(words)
      val slices = (0 until k).map(i =>
        slice(words, lit(i + 1), nw - (k - 1)).as(s"w$i"))
      val zipped = arrays_zip(slices: _*)
      df.filter(nw >= k)
        .select(col(idCol).as("id"), posexplode(zipped).as(Seq("pos", "z")))
        .select(col("id"), col("pos"),
          concat_ws(" ", (0 until k).map(i => col(s"z.w$i")): _*).as("s"))
    }
  }

  /** Per-document repetition signals (Gopher-style quality filters):
    * a doc whose mass concentrates in repeated words/n-grams is
    * boilerplate or degenerate generation, whatever its other
    * quality scores say. Returns
    * (id, n_words, dup_word_frac, dup_bigram_frac, top_bigram_frac):
    * the fraction of word occurrences that are repeats, the same for
    * bigrams, and the mass share of the single most frequent bigram.
    *
    * Computed relationally — explode once, two chained HashAggregates
    * ((id, gram) counts → per-id sum/count/max) — fully codegen'd
    * with map-side combine; no per-row array building. Documents
    * shorter than 2 words take the whole-text fallback shingle
    * (total = distinct = 1 → zero repetition, top fraction 1).
    */
  def repetitionSignals(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val wordStats = shingleRows(df, idCol, textCol, 1)
      .groupBy("id", "s").agg(count(lit(1)).as("c"))
      .groupBy("id").agg(sum("c").as("nw"), count(lit(1)).as("dw"))
    val bigramStats = shingleRows(df, idCol, textCol, 2)
      .groupBy("id", "s").agg(count(lit(1)).as("c"))
      .groupBy("id").agg(sum("c").as("nb"), count(lit(1)).as("db"),
        max("c").as("topc"))
    wordStats.join(bigramStats, Seq("id"))
      .select(col("id"), col("nw").as("n_words"),
        round(lit(1.0) - col("dw").cast("double") / col("nw").cast("double"), 4)
          .as("dup_word_frac"),
        round(lit(1.0) - col("db").cast("double") / col("nb").cast("double"), 4)
          .as("dup_bigram_frac"),
        round(col("topc").cast("double") / col("nb").cast("double"), 4)
          .as("top_bigram_frac"))
  }
}
