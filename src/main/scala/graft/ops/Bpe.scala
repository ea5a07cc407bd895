package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Distributed byte-pair-encoding tokenizer: trainer + encoder — the
  * missing piece between the corpus-analytics queries (vocab, token
  * stats) and an actual training-data pipeline, which tokenizes with a
  * LEARNED subword vocabulary rather than whitespace.
  *
  * Algorithm (Sennrich et al. 2016, "Neural Machine Translation of Rare
  * Words with Subword Units"): start from characters, repeatedly merge
  * the most frequent adjacent symbol pair; the ordered merge list IS the
  * tokenizer.
  *
  * Scale design (100 TB corpus):
  *  - Training never touches the corpus after round 0: it operates on
  *    the DISTINCT-WORD frequency table (`wordFreq` — one explode + one
  *    hash agg over the corpus, then a Zipf-compressed working set of
  *    |vocab| rows, millions at web scale, not billions).
  *  - Each round is one distributed pair-count aggregate over that small
  *    table + an O(1) driver fetch of the argmax pair (the same bounded
  *    driver-traffic pattern as [[KMeans]]' convergence checksum); the
  *    merge application is a narrow map. localCheckpoint per round
  *    truncates lineage so round N doesn't replay rounds 1..N-1.
  *  - Encoding broadcasts the merge list and runs mapPartitions — map
  *    only, zero shuffle, no per-row UDF in a Catalyst plan.
  *
  * Determinism: pair ties break (count desc, left asc, right asc), and
  * the encoder applies merges in rank order with leftmost-first
  * occurrence scanning — exactly the trainer's own replacement rule, so
  * encoding a training word reproduces its trained symbolization.
  */
object Bpe {

  /** Lowercase word extraction — the pre-tokenizer (kept SQL-expressible
    * so the round-1 oracle can reproduce it in DuckDB). */
  val WordPattern = "[a-z]+"

  /** (w, f): distinct-word frequencies — the working set every BPE round
    * operates on. One explode + one partial+final hash agg. */
  def wordFreq(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(expr(s"regexp_extract_all(lower($textCol), '$WordPattern', 0)")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("f"))

  /** Round-1 adjacent-pair counts: with character symbols the pairs are
    * just 2-char substrings, which keeps this form SQL-expressible (the
    * q97 oracle mirrors it with range+substring in DuckDB). */
  def round1PairCounts(docs: DataFrame, textCol: String): DataFrame = {
    val wf = wordFreq(docs, textCol).filter(length(col("w")) >= 2)
    wf.select(col("w"), col("f"),
        explode(sequence(lit(1), length(col("w")) - 1)).as("i"))
      .select(col("w").substr(col("i"), lit(2)).as("pair"), col("f"))
      .groupBy("pair").agg(sum("f").as("cnt"))
  }

  final case class WordSyms(syms: Seq[String], f: Long)
  final case class Merge(rank: Int, left: String, right: String, merged: String)

  // ------------------------------------------------------- byte-level mode

  /** GPT-2-style byte-level pretokenizer. Differences from the published
    * GPT-2 pattern, pinned deliberately: input is lowercased first (the
    * repo-wide convention, so contractions need no case variants) and the
    * trailing-space lookahead branch is dropped — lookahead is not
    * RE2-expressible, and the DuckDB oracle must run the SAME pattern.
    * Branches: contraction suffix | optional-space letter run |
    * optional-space digit run | optional-space punctuation run |
    * whitespace run. */
  val BytePretokenPattern = "'(?:s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+| ?[^a-z0-9\\s']+|\\s+"

  /** GPT-2 byte→unicode table (bytes_to_unicode): printable ranges map to
    * themselves, every other byte b maps to (256+n) in ascending-b order —
    * a reversible, whitespace-free visible alphabet (space → 'Ġ' 0x120),
    * so merged symbols are plain strings and never collide with
    * delimiters. */
  val ByteToChar: IndexedSeq[Char] = {
    val kept = (0x21 to 0x7e) ++ (0xa1 to 0xac) ++ (0xae to 0xff)
    val keptSet = kept.toSet
    var n = 0
    (0 to 255).map { b =>
      if (keptSet(b)) b.toChar
      else { val c = (256 + n).toChar; n += 1; c }
    }
  }

  /** Byte fallback: one symbol per UTF-8 byte, through [[ByteToChar]] —
    * any unicode input reduces to a 256-symbol base alphabet (the whole
    * point of byte-level BPE: no unknown-token class). */
  def byteSymbols(pretoken: String): Seq[String] =
    pretoken.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      .map(b => ByteToChar(b & 0xff).toString).toIndexedSeq

  /** Inverse of [[ByteToChar]]: visible char → original byte. */
  val CharToByte: Map[Char, Byte] =
    ByteToChar.zipWithIndex.map { case (c, b) => c -> b.toByte }.toMap

  /** Detokenize byte-level BPE output: concatenate the token symbols, map
    * each visible char back to its byte, UTF-8 decode — the TOTAL inverse
    * of the symbolize+merge pipeline (byte fallback has no unknown-token
    * class and merges only concatenate symbols), so
    * decodeByteLevel(encode(pretokens)) reproduces the pretoken
    * concatenation exactly for ANY input bytes. The detokenization /
    * serving path, and the loss-free audit q240 gates. */
  def decodeByteLevel(tokens: Seq[String]): String = {
    val chars = tokens.mkString
    val bytes = new Array[Byte](chars.length)
    var i = 0
    while (i < chars.length) { bytes(i) = CharToByte(chars.charAt(i)); i += 1 }
    new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
  }

  /** DataFrame form over a tokens-array column (Dataset map — the Bpe
    * family's codec stance: per-partition plain-Scala walks). */
  def detokenizeByteLevel(tk: DataFrame, idCol: String, tokensCol: String): DataFrame = {
    val spark = tk.sparkSession
    import spark.implicits._
    tk.select(col(idCol).cast("long"), col(tokensCol)).as[(Long, Seq[String])]
      .map { case (id, toks) => (id, decodeByteLevel(toks)) }
      .toDF(idCol, "decoded")
  }

  /** (w, f): distinct-PRETOKEN frequencies — the byte-level working set
    * (pretokens keep their leading space, so ' the' and 'the' are
    * distinct entries, exactly as in GPT-2). */
  def pretokenFreq(docs: DataFrame, textCol: String): DataFrame = {
    // SQL-literal escaping: the pattern contains both apostrophes (the
    // contraction branch) and backslash classes
    val sqlPat = BytePretokenPattern.replace("\\", "\\\\").replace("'", "\\'")
    docs.select(explode(expr(
        s"regexp_extract_all(lower($textCol), '$sqlPat', 0)")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("f"))
  }

  /** One left-to-right merge pass over a symbol sequence (overlapping
    * occurrences resolve leftmost-first — the canonical BPE rule). */
  def mergeOnce(syms: Seq[String], l: String, r: String): Seq[String] = {
    val arr = syms.toIndexedSeq
    val n = arr.length
    val b = Vector.newBuilder[String]
    var i = 0
    while (i < n) {
      if (i + 1 < n && arr(i) == l && arr(i + 1) == r) { b += (l + r); i += 2 }
      else { b += arr(i); i += 1 }
    }
    b.result()
  }

  /** Train up to `k` merges; stops early when no pair occurs twice. */
  def train(docs: DataFrame, textCol: String, k: Int): Seq[Merge] =
    trainFrom(wordFreq(docs, textCol), w => w.map(_.toString), k)

  /** Byte-level training: GPT-2 pretokens, byte-fallback base symbols. */
  def trainByteLevel(docs: DataFrame, textCol: String, k: Int): Seq[Merge] =
    trainFrom(pretokenFreq(docs, textCol), byteSymbols, k)

  /** Driver-local word cap for the size-gated training fast path: far
    * above any bench vocabulary, far below driver-heap trouble (~10 MB
    * of strings at a 10-char average). */
  val MaxDriverWords = 500000

  /** The shared merge loop over any (w, f) working set + symbolizer.
    *
    * Size-gated driver-local fast path (optimization round 20, guide
    * §1.2/§5): the merge loop's working set is the Zipf-compressed
    * DISTINCT-WORD table — vocabulary-sized, not corpus-sized — yet the
    * distributed loop paid k sequential Spark jobs (pair-count agg +
    * argmax fetch per round) plus k lazy checkpoints for it. When the
    * [[SizeGate]] admits the working set (the same gate as the
    * loop-codegen scope; it errs LARGE on unknown stats, so 100 TB
    * corpora keep the distributed loop) AND a hard row cap confirms it,
    * the word table is collected ONCE and the k rounds run as plain
    * Scala — identical counts (per-word sliding pairs weighted by f),
    * identical (cnt desc, l asc, r asc) argmax tie-break, identical [[mergeOnce]]
    * rewrite, identical early stop — so the merge list is bit-identical
    * (BpeSpec pins local == distributed on a fixture; q98/q99/q119/q134/
    * q240 stay DuckDB-oracle hash-gated). */
  def trainFrom(wf: DataFrame, symsOf: String => Seq[String], k: Int): Seq[Merge] = {
    SizeGate.collect(wf, MaxDriverWords) match {
      case Some(rows) => trainLocal(rows.map(r => (r.getString(0), r.getLong(1))), symsOf, k)
      case None => trainFromDistributed(wf, symsOf, k)
    }
  }

  /** Driver-local merge loop — the exact distributed semantics on a
    * collected (w, f) array. */
  private[ops] def trainLocal(words: Array[(String, Long)],
                              symsOf: String => Seq[String], k: Int): Seq[Merge] = {
    var syms: Array[Seq[String]] = words.map(w => symsOf(w._1))
    val fs: Array[Long] = words.map(_._2)
    val merges = List.newBuilder[Merge]
    var round = 0
    var done = false
    while (round < k && !done) {
      val counts = new java.util.HashMap[String, Long]()
      // key = left + NUL (U+0000) + right: symbols never contain NUL, so
      // the join is collision-free, and NUL's UTF-8 byte (0x00) sorts
      // below every other byte, so comparing whole keys in UTF-8 byte
      // order (below) equals the (l asc, r asc) tuple order
      var wi = 0
      while (wi < syms.length) {
        val s = syms(wi)
        val f = fs(wi)
        var i = 0
        while (i + 1 < s.length) {
          counts.merge(s(i) + "\u0000" + s(i + 1), f, (a, b) => a + b)
          i += 1
        }
        wi += 1
      }
      var bestKey: String = null
      var bestCnt = 0L
      // tie-break in UTF-8 BYTE order — what Spark's UTF8String sort
      // gives the distributed path. Java String '<' is UTF-16 code-unit
      // order, which diverges when a supplementary-plane symbol competes
      // with a BMP char >= U+E000 (ADVICE r20; BpeSpec pins the parity
      // on a supplementary-plane fixture).
      counts.forEach { (key, cnt) =>
        if (bestKey == null || cnt > bestCnt ||
            (cnt == bestCnt && Utf8Order.compare(key, bestKey) < 0)) {
          bestKey = key; bestCnt = cnt
        }
      }
      if (bestKey == null || bestCnt < 2) done = true
      else {
        val sep = bestKey.indexOf('\u0000')
        val l = bestKey.substring(0, sep)
        val r = bestKey.substring(sep + 1)
        merges += Merge(round + 1, l, r, l + r)
        var j = 0
        while (j < syms.length) {
          if (syms(j).length > 1) syms(j) = mergeOnce(syms(j), l, r)
          j += 1
        }
      }
      round += 1
    }
    merges.result()
  }

  /** The distributed merge loop — the 100 TB path (and the reference
    * semantics the local path is pinned against). */
  private[ops] def trainFromDistributed(wf: DataFrame, symsOf: String => Seq[String],
                                        k: Int): Seq[Merge] = {
    val spark = wf.sparkSession
    import spark.implicits._
    // LAZY checkpoints (the round-15 PageRank/LPA/SCC job-batching
    // discipline): each round's single head(1) action materializes the
    // previous round's re-symbolized words in the SAME job — lineage
    // still truncates every round, but the loop stops paying one extra
    // eager-checkpoint job per merge.
    var words: Dataset[WordSyms] =
      wf.as[(String, Long)]
        .map { case (w, f) => WordSyms(symsOf(w), f) }
        .localCheckpoint(eager = false)
    val merges = List.newBuilder[Merge]
    var round = 0
    var done = false
    while (round < k && !done) {
      val top = words
        .flatMap(ws => ws.syms.iterator.sliding(2).withPartial(false)
          .map(p => (p.head, p(1), ws.f)))
        .toDF("l", "r", "f")
        .groupBy("l", "r").agg(sum("f").as("cnt"))
        .orderBy(col("cnt").desc, col("l").asc, col("r").asc)
        .head(1) // O(1) driver traffic: the argmax pair only
      if (top.isEmpty || top.head.getAs[Long]("cnt") < 2) done = true
      else {
        val l = top.head.getString(0)
        val r = top.head.getString(1)
        merges += Merge(round + 1, l, r, l + r)
        words = words.map(ws => WordSyms(mergeOnce(ws.syms, l, r), ws.f))
          .localCheckpoint(eager = false)
      }
      round += 1
    }
    merges.result()
  }

  /** Encode one word by applying the trained merges in rank order —
    * provably the trainer's own symbolization for in-vocab words. */
  def encodeWord(w: String, merges: Seq[Merge]): Seq[String] = {
    var syms: Seq[String] = w.map(_.toString)
    var i = 0
    while (i < merges.length && syms.length > 1) {
      val m = merges(i)
      syms = mergeOnce(syms, m.left, m.right)
      i += 1
    }
    syms
  }

  /** Encode one byte-level pretoken: byte-fallback symbols, then the
    * trained merges in rank order (same replacement rule as the trainer). */
  def encodePretoken(w: String, merges: Seq[Merge]): Seq[String] = {
    var syms = byteSymbols(w)
    var i = 0
    while (i < merges.length && syms.length > 1) {
      val m = merges(i)
      syms = mergeOnce(syms, m.left, m.right)
      i += 1
    }
    syms
  }

  /** Tokenize: (doc_id, tokens) with the merge list broadcast —
    * mapPartitions, zero shuffle. */
  def tokenize(docs: DataFrame, idCol: String, textCol: String,
               merges: Seq[Merge]): DataFrame =
    tokenizeWith(docs, idCol, textCol, merges, WordPattern, encodeWord)

  /** Byte-level tokenize: GPT-2 pretokens + byte-fallback encoding. */
  def tokenizeByteLevel(docs: DataFrame, idCol: String, textCol: String,
                        merges: Seq[Merge]): DataFrame =
    tokenizeWith(docs, idCol, textCol, merges, BytePretokenPattern, encodePretoken)

  private def tokenizeWith(docs: DataFrame, idCol: String, textCol: String,
                           merges: Seq[Merge], pattern: String,
                           enc: (String, Seq[Merge]) => Seq[String]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(merges.sortBy(_.rank).toIndexedSeq)
    val re = pattern.r
    docs.select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
      .mapPartitions { it =>
        val ms = bc.value
        it.map { case (id, text) =>
          val toks =
            if (text == null) Seq.empty[String]
            else re.findAllIn(text.toLowerCase).flatMap(w => enc(w, ms)).toSeq
          (id, toks)
        }
      }
      .toDF(idCol, "tokens")
  }
}
