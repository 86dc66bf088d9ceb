package graft.pipeline

import graft.{Num, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-trained byte-pair-encoding tokenizer — the r12-verdict
  * tokenizer-exact budgeting item: docs_split / docs_mix_weights /
  * docs_pack_sequences priced their token budgets in WHITESPACE tokens,
  * but a training pipeline budgets in tokenizer tokens, and mixture
  * shares / packing offsets shift materially under a real tokenizer.
  *
  * The tokenizer is deterministic end-to-end (the k-means-CTE
  * discipline applied to merges) so the DuckDB oracle can replay the
  * exact training:
  *  - words are `[a-z]+` runs of the lowercased text;
  *  - merge training runs a FIXED [[Merges]] iterations over the
  *    corpus word-frequency table capped at the [[VocabCap]] most
  *    frequent words (ties broken by word asc — the cap is the 100 TB
  *    guard: training state is vocab-bounded, never corpus-bounded);
  *  - each iteration merges the adjacent token pair with the highest
  *    frequency-weighted count, total-ordered by (count desc, left
  *    asc, right asc);
  *  - merges apply left-to-right non-overlapping — exactly the
  *    semantics of `replace()` over the `|tok||tok|` string encoding,
  *    which is what BOTH engines execute.
  *
  * Spark-side plan shape: training is ONE word-count shuffle + a
  * driver loop over the ≤[[VocabCap]]-row vocabulary (collected once
  * per session, the trained-centroid sidecar pattern); application is
  * a map-only chain of [[Merges]] codegen'd `replace` calls over a
  * char-delimited form of each document — zero shuffle, zero UDF, one
  * whole-stage-codegen span. The oracle replays training as chained
  * MATERIALIZED CTEs (toks_i/pairs_i/best_i/vocab_i/docs_i per
  * iteration) and applies the same `replace` per iteration.
  */
object Bpe {

  /** Fixed merge count — small enough that the oracle's CTE chain
    * stays tractable, large enough that frequent words collapse to
    * single tokens (vocab-31 corpora fully exercise multi-level
    * merges: char pairs, then pair+char, then word-sized tokens). */
  val Merges = 24

  /** Merge training reads only the top-VocabCap words by (frequency
    * desc, word asc) — the bounded-training-state guard at 100 TB
    * (the standard practice of training BPE on a corpus sample, made
    * deterministic). */
  val VocabCap = 4096

  /** Production-shaped merge cap for the kernel path (r14 verdict
    * item 7): [[Merges]] = 24 stays the oracle anchor (the SQL replay
    * is linear in merges and DuckDB-bounded); the kernel's TRAINED
    * table trains up to this many ranks by the same deterministic
    * discipline, stopping early when the pair stream dries — a
    * production trainer's vocab_size is a CAP, and on a small
    * vocabulary every word collapses to a single token first. */
  val MergesTrainedCap = 512

  private def bpeGenSuffix(spark: org.apache.spark.sql.SparkSession,
      dir: String): String =
    IndexFamily.name(spark, dir, "", Registry.Doc, generation = true)

  /** This corpus's trained BPE artifacts that exist in the CURRENT
    * generation (the uncapped oracle table plus any capped-k kernel
    * tables), each paired with its deterministic rebuild — the
    * [[Maintenance.refreshModels]] hook. */
  private[pipeline] def genArtifacts(spark: org.apache.spark.sql
      .SparkSession, dir: String): Seq[(String, () => Unit)] = {
    val suffix = bpeGenSuffix(spark, dir)
    val names = spark.catalog.listTables().collect().map(_.name)
    val merges: Seq[(String, () => Unit)] = {
      val t = "graft_bpe_" + suffix
      if (names.contains(t))
        Seq((t, () => { trainMerges(spark, dir); () })) else Nil
    }
    val capped: Seq[(String, () => Unit)] = names.toSeq.flatMap { n =>
      if (!n.startsWith("graft_bpek")) None
      else {
        val k = n.stripPrefix("graft_bpek").takeWhile(_.isDigit)
        if (k.nonEmpty && n == s"graft_bpek${k}_" + suffix)
          Some((n, () => { trainMergesK(spark, dir, k.toInt); () }))
        else None
      }
    }
    merges ++ capped
  }

  /** Left-to-right non-overlapping merge of (l, r) in a token array —
    * the array mirror of `replace(repr, "|l||r|", "|lr|")`: the `|`
    * delimiters make a partial-token match impossible, so the two
    * formulations are equivalent (BpeSpec proves it property-style). */
  private[pipeline] def mergeToks(toks: Array[String], l: String,
      r: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var j = 0
    while (j < toks.length) {
      if (j + 1 < toks.length && toks(j) == l && toks(j + 1) == r) {
        out += (l + r); j += 2
      } else { out += toks(j); j += 1 }
    }
    out.toArray
  }

  /** Train the merge sequence on `dir`'s documents — or read it back
    * from the fingerprint-named sidecar a previous session left: the
    * trained tokenizer is a write-time artifact exactly like the PQ
    * codebooks ([[ArtifactCache.persisted]]), so a serving session never
    * re-pays the corpus word count. The in-memory memo sits on top for
    * repeat calls inside one session; training itself is one
    * distributed word-count shuffle + a driver merge loop over the
    * ≤VocabCap vocabulary. Strings round-trip parquet exactly, so the
    * reloaded merges ARE the trained merges and the oracle stays
    * exact. */
  private[graft] def trainMerges(spark: SparkSession,
      dir: String): Seq[(String, String)] =
    persistedMerges(spark, s"bpe:$dir", "graft_bpe_" + bpeGenSuffix(spark, dir))(
      trainLoop(spark, dir, Merges, failOnDry = true))

  /** A merge sequence persisted as (rank, l, r) rows
    * ([[ArtifactCache.persisted]]). */
  private def persistedMerges(spark: SparkSession, key: String,
      table: => String)(train: => Seq[(String, String)]): Seq[(String, String)] =
    ArtifactCache.persisted(spark, key, table)(
      _.collect().sortBy(_.getInt(0))
        .map(r => (r.getString(1), r.getString(2))).toSeq)(train) { merges =>
      import spark.implicits._
      merges.zipWithIndex.map { case ((l, r), i) => (i, l, r) }
        .toDF("rank", "l", "r")
    }

  /** The shared training loop. `failOnDry` guards the ORACLE table:
    * its SQL replay is a fixed-length CTE chain that would silently
    * diverge if the pair stream dried early. The capped kernel table
    * ([[trainMergesK]]) instead STOPS on dry — the production
    * semantics of a vocab_size cap. */
  private def trainLoop(spark: SparkSession, dir: String, n: Int,
      failOnDry: Boolean): Seq[(String, String)] = {
      // training population: minus the model basis (Registry) — the
      // generation contract for every trained artifact
      val vocab = Tables.fanOutScan(Registry.minusBasis(spark,
            Tables.documents(spark, dir), dir, Registry.Doc, "doc_id")
          .select(col("text")), spark, dir)
        .select(explode(
          expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("w"))
        .limit(VocabCap)
        .collect().map(r => (r.getString(0), r.getLong(1)))
      var reprs: Array[(Array[String], Long)] =
        vocab.map { case (w, c) => (w.toCharArray.map(_.toString), c) }
      val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      var i = 0
      var dry = false
      while (i < n && !dry) {
        val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
        reprs.foreach { case (toks, c) =>
          var j = 0
          while (j + 1 < toks.length) {
            val k = (toks(j), toks(j + 1))
            counts.update(k, counts.getOrElse(k, 0L) + c)
            j += 1
          }
        }
        if (counts.isEmpty) {
          // fail LOUDLY if the pair stream dries before Merges — the
          // oracle's fixed-length chain would silently diverge otherwise
          require(!failOnDry,
            s"BPE pair stream dried up after ${merges.length} merges " +
              s"(vocab too small for Merges=$n)")
          dry = true
        } else {
          val ((l, r), _) = counts.toSeq
            .minBy { case ((pl, pr), c) => (-c, pl, pr) }
          merges += ((l, r))
          reprs = reprs.map { case (toks, c) => (mergeToks(toks, l, r), c) }
          i += 1
        }
      }
      merges.toSeq
  }

  /** Train UP TO `k` merges with the identical discipline (same vocab
    * cap, same (count desc, left, right) total order — so the first
    * [[Merges]] entries ARE [[trainMerges]]'s, prefix-stable by
    * construction), stopping when the pair stream dries. This is the
    * production-shaped table the rank-table kernel carries
    * ([[tokensBpeTrained]]); it has no SQL oracle by design —
    * BpeTrainedSpec pins it against an independently-written
    * reference trainer instead. Sidecar-persisted per (corpus, k),
    * the trainMerges discipline. */
  private[graft] def trainMergesK(spark: SparkSession, dir: String,
      k: Int): Seq[(String, String)] =
    persistedMerges(spark, s"bpe:$dir:k$k",
      s"graft_bpek${k}_" + bpeGenSuffix(spark, dir))(
      trainLoop(spark, dir, k, failOnDry = false))

  /** The `|tok||tok|` representation of a document's words after all
    * trained merges — a chain of codegen'd `replace` calls (StringReplace,
    * whole-stage codegen) over the char-delimited lowercased text. */
  private def bpeRepr(merges: Seq[(String, String)]): Column = {
    val norm = regexp_replace(lower(col("text")), "[^a-z]+", " ")
    val chars = regexp_replace(norm, "([a-z])", "|$1|")
    merges.foldLeft(chars) { case (e, (l, r)) =>
      call_function("replace", e, lit(s"|$l||$r|"), lit(s"|$l$r|"))
    }
  }

  /** BPE token count of a document under the trained merges: each
    * token contributes exactly two `|` delimiters. */
  private[pipeline] def tokenCount(spark: SparkSession,
      dir: String): Column = {
    val r = bpeRepr(trainMerges(spark, dir))
    ((length(r) -
      length(call_function("replace", r, lit("|"), lit("")))) / 2)
      .cast("long")
  }

  private def wsCount: Column =
    size(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).cast("long")

  /** Per-document BPE vs whitespace token accounting. */
  def tokensBpe(spark: SparkSession, dir: String): DataFrame = {
    val bpe = tokenCount(spark, dir)
    Tables.documents(spark, dir).select(
      col("doc_id"),
      bpe.as("n_tokens_bpe"),
      wsCount.as("n_tokens_ws"),
      Num.roundEps(
        bpe.cast("double") / nullif(wsCount, lit(0L)), 6)
        .as("tokens_per_word"))
  }

  /** Token-exact split manifest (docs_split priced in BPE tokens). */
  def splitBpe(spark: SparkSession, dir: String): DataFrame =
    TrainingPrep.splitReport(spark, dir, tokenCount(spark, dir))

  /** Token-exact sequence packing (docs_pack_sequences offsets in BPE
    * tokens — the quantity that actually addresses a training
    * sequence). */
  def packBpe(spark: SparkSession, dir: String): DataFrame =
    TrainingPrep.packSequences(spark, dir, tokenCount(spark, dir))

  /** Token-exact mixture weights (docs_mix_weights shares in BPE
    * tokens). */
  def mixBpe(spark: SparkSession, dir: String): DataFrame =
    TrainingPrep.mixWeights(spark, dir, tokenCount(spark, dir))

  /** Apply the trained merges to one word (driver-side, the token-array
    * mirror of the replace chain). */
  private[pipeline] def tokensOf(w: String,
      merges: Seq[(String, String)]): Array[String] =
    merges.foldLeft(w.toCharArray.map(_.toString)) {
      case (toks, (l, r)) => mergeToks(toks, l, r)
    }

  // ------------------------------------------- rank-table kernel --

  /** Per-pair merge ranks, ascending (a pair CAN train at two ranks
    * when later merges re-create it in the vocab reprs — rare, but the
    * kernel must replay even that exactly). Key is `l + ' ' + r`
    * (tokens are [a-z]+, so space cannot collide). */
  private[pipeline] def rankTable(
      merges: Seq[(String, String)]): java.util.HashMap[String, Array[Int]] = {
    val m = new java.util.HashMap[String, scala.collection.mutable.ArrayBuffer[Int]]()
    merges.zipWithIndex.foreach { case ((l, r), i) =>
      m.computeIfAbsent(l + " " + r, _ =>
        scala.collection.mutable.ArrayBuffer.empty[Int]) += i
    }
    val out = new java.util.HashMap[String, Array[Int]]()
    m.forEach((k, v) => out.put(k, v.toArray))
    out
  }

  /** Single-pass BPE apply (r13 verdict item 2): ONE greedy
    * heap-ordered sweep per word over the broadcast rank table —
    * O(len·log len + merges applied), FLAT in the merge count, where
    * the replace chain is O(Merges) full passes per document and
    * cannot carry a production 32k-merge vocabulary.
    *
    * Exactness contract: byte-identical token output to the
    * sequential chain (`tokensOf`, = the `replace` chain by BpeSpec's
    * encoding proof) on EVERY input, pinned property-style in BpeSpec
    * and oracle-gated end-to-end by text_tokens_bpek. The sequential
    * semantics are replayed by three rules:
    *  - candidates pop in (rank, position) order, so each rank's
    *    occurrences merge left-to-right before any later rank — the
    *    chain's pass order;
    *  - every push arms at the pair's smallest trained rank ≥ the
    *    cursor (the highest rank already processed) and drops the pair
    *    if none exists: an occurrence of pair i created by a later
    *    merge j > i stays UNMERGED, exactly as the chain (whose pass i
    *    already ran) leaves it — the re-arm happens at PUSH time, so a
    *    polled candidate always has rank ≥ cursor (asserted below);
    *  - merging (l, r) can never create a new (l, r) adjacency (lr
    *    equals neither l nor r), so within one rank the left-to-right
    *    non-overlap of `mergeToks` is preserved by lazy invalidation
    *    alone.
    */
  private[pipeline] def applyRanked(word: String,
      ranks: java.util.HashMap[String, Array[Int]]): Array[String] = {
    val n = word.length
    if (n == 0) return Array.empty
    val tok = new Array[String](n)
    val nxt = new Array[Int](n)
    val prv = new Array[Int](n)
    val alive = new Array[Boolean](n)
    var i = 0
    while (i < n) {
      tok(i) = String.valueOf(word.charAt(i))
      nxt(i) = if (i + 1 < n) i + 1 else -1
      prv(i) = i - 1
      alive(i) = true
      i += 1
    }
    // (rank, pos) packed into one Long: natural ordering = pop order
    val heap = new java.util.PriorityQueue[java.lang.Long]()
    def push(pos: Int, minRank: Int): Unit = {
      val q = nxt(pos)
      if (q != -1) {
        val rs = ranks.get(tok(pos) + " " + tok(q))
        if (rs != null) {
          // smallest trained rank >= minRank (rs is ascending, tiny)
          var k = 0
          while (k < rs.length && rs(k) < minRank) k += 1
          if (k < rs.length)
            heap.add((rs(k).toLong << 32) | pos.toLong)
        }
      }
    }
    i = 0
    while (i < n) { push(i, 0); i += 1 }
    var cursor = 0
    while (!heap.isEmpty) {
      val v = heap.poll().longValue()
      val r = (v >>> 32).toInt
      val p = (v & 0xffffffffL).toInt
      val q = if (alive(p)) nxt(p) else -1
      if (q != -1 && alive(q)) {
        val rs = ranks.get(tok(p) + " " + tok(q))
        // stale unless this exact rank is still trained for the pair
        // now at p (the tokens may have changed since the push)
        if (rs != null && java.util.Arrays.binarySearch(rs, r) >= 0) {
          // ranks pop ascending and every push armed at minRank =
          // cursor, so a polled rank can never be below the cursor
          assert(r >= cursor, s"BPE kernel invariant: rank $r < cursor $cursor")
          cursor = r
          tok(p) = tok(p) + tok(q)
          alive(q) = false
          nxt(p) = nxt(q)
          if (nxt(q) != -1) prv(nxt(q)) = p
          if (prv(p) != -1) push(prv(p), cursor)
          push(p, cursor)
        }
      }
    }
    // merged tokens live at their leftmost original position, so the
    // alive positions in index order ARE the token sequence
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    i = 0
    while (i < n) { if (alive(i)) out += tok(i); i += 1 }
    out.toArray
  }

  /** Per-document BPE accounting through [[applyRanked]] — the
    * production-merge-count twin of [[tokensBpe]] (same output schema,
    * same oracle): one typed mapPartitions over the corpus with the
    * broadcast rank table, a per-partition word→count memo riding the
    * Zipfian word distribution (the per-partition in-memory reuse
    * discipline the multimodal codecs use). Zero shuffle, zero UDF;
    * per-doc cost is flat in the merge count where the replace chain
    * pays O(Merges) passes. */
  def tokensBpeKernel(spark: SparkSession, dir: String): DataFrame =
    tokensBpeKernelWith(spark, dir, trainMerges(spark, dir))

  /** Kernel accounting under the PRODUCTION-shaped trained table
    * ([[trainMergesK]] at [[MergesTrainedCap]]) — the end-to-end
    * tokenizer path a pipeline owner actually runs: trained merge
    * count bounded by the cap, applied by the flat-in-merges kernel.
    * Bench + spec surface; text_tokens_bpek (24 merges) stays the
    * oracle-exactness anchor. */
  def tokensBpeTrained(spark: SparkSession, dir: String): DataFrame =
    tokensBpeKernelWith(spark, dir,
      trainMergesK(spark, dir, MergesTrainedCap))

  /** Bound on the per-partition word→count memo: on Zipfian text the
    * hit rate is what makes the kernel fast, but a high-entropy
    * partition (random identifiers) would otherwise grow the HashMap
    * with every distinct word — unbounded executor memory. Past the
    * cap new words compute through unmemoized; output is identical
    * either way (BpeKernelSpec pins cap=0 ≡ uncapped). */
  private[pipeline] val KernelMemoCap = 1 << 20

  /** Kernel apply under an explicit merge table — the bench hook for
    * the production-merge-count point (`Measure bpe` pads the trained
    * table to 4096 ranks to show per-doc cost flat in merge count). */
  private[graft] def tokensBpeKernelWith(spark: SparkSession, dir: String,
      merges: Seq[(String, String)],
      memoCap: Int = KernelMemoCap): DataFrame = {
    import spark.implicits._
    val mergesB = spark.sparkContext.broadcast(merges.toArray)
    val wordRe = java.util.regex.Pattern.compile("[a-z]+")
    val out = Tables.documents(spark, dir)
      .select(col("doc_id"), lower(col("text")).as("t"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val ranks = rankTable(mergesB.value.toSeq)
        val memo = new java.util.HashMap[String, Integer]()
        it.map { case (id, t) =>
          val m = wordRe.matcher(t)
          var nBpe = 0L
          var nWs = 0L
          while (m.find()) {
            val w = m.group()
            var c = memo.get(w)
            if (c == null) {
              c = Integer.valueOf(applyRanked(w, ranks).length)
              if (memo.size < memoCap) memo.put(w, c)
            }
            nBpe += c.intValue()
            nWs += 1L
          }
          (id, nBpe, nWs)
        }
      }
    out.toDF("doc_id", "n_tokens_bpe", "n_tokens_ws")
      .select(col("doc_id"), col("n_tokens_bpe"), col("n_tokens_ws"),
        Num.roundEps(col("n_tokens_bpe").cast("double") /
          nullif(col("n_tokens_ws"), lit(0L)), 6).as("tokens_per_word"))
  }

  /** Tokenizer diagnostics: the BPE token frequency table over the
    * TRAINING vocabulary (top 50 by frequency-weighted count, ties by
    * token asc) — what a tokenizer owner inspects after training: which
    * merges captured whole words, what the residual char-level tail
    * looks like. Vocab-bounded by construction (the same ≤VocabCap word
    * table training reads): one distributed word-count shuffle, then a
    * driver fold over ≤VocabCap words — never a corpus-scale pass. */
  def vocabBpe(spark: SparkSession, dir: String): DataFrame = {
    val merges = trainMerges(spark, dir)
    val vocab = Tables.documents(spark, dir)
      .select(explode(
        expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("w"))
      .limit(VocabCap)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val counts = scala.collection.mutable.HashMap.empty[String, Long]
    vocab.foreach { case (w, c) =>
      tokensOf(w, merges).foreach(t =>
        counts.update(t, counts.getOrElse(t, 0L) + c))
    }
    val top = counts.toSeq.sortBy { case (t, c) => (-c, t) }.take(50)
    import spark.implicits._
    top.toDF("token", "cnt")
  }

  // ------------------------------------------------------- oracle --

  /** The oracle's replay of training + application: vocab_i / docs_i
    * carry the word and document representations after merge i;
    * toks_i / pairs_i / best_i recompute merge i exactly as the
    * trainer does. MATERIALIZED is load-bearing: DuckDB would inline
    * the chain into an exponentially exploding expression otherwise. */
  private def chainSql: String = {
    val head =
      s"""docs_0 AS MATERIALIZED (
         |  SELECT doc_id, source,
         |    len(regexp_extract_all(lower(text), '[a-z]+')) AS n_ws,
         |    regexp_replace(regexp_replace(lower(text), '[^a-z]+', ' ', 'g'),
         |                   '([a-z])', '|\\1|', 'g') AS r
         |  FROM documents),
         |vocab_0 AS MATERIALIZED (
         |  SELECT w, cnt, regexp_replace(w, '([a-z])', '|\\1|', 'g') AS r
         |  FROM (SELECT w, count(*) AS cnt
         |        FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
         |              FROM documents) GROUP BY w
         |        QUALIFY row_number() OVER (ORDER BY cnt DESC, w) <= $VocabCap))"""
        .stripMargin
    val iters = (1 to Merges).map { i =>
      val p = i - 1
      s"""toks_$i AS MATERIALIZED (
         |  SELECT w, cnt, generate_subscripts(tk, 1) AS ix, unnest(tk) AS t
         |  FROM (SELECT w, cnt, string_split(trim(r, '|'), '||') AS tk FROM vocab_$p)),
         |pairs_$i AS MATERIALIZED (
         |  SELECT a.t AS l, b.t AS r2, sum(a.cnt) AS c
         |  FROM toks_$i a JOIN toks_$i b ON a.w = b.w AND b.ix = a.ix + 1 GROUP BY 1, 2),
         |best_$i AS MATERIALIZED (SELECT l, r2 FROM pairs_$i ORDER BY c DESC, l, r2 LIMIT 1),
         |vocab_$i AS MATERIALIZED (
         |  SELECT w, cnt, replace(r, '|'||l||'||'||r2||'|', '|'||l||r2||'|') AS r
         |  FROM vocab_$p, best_$i),
         |docs_$i AS MATERIALIZED (
         |  SELECT doc_id, source, n_ws, replace(r, '|'||l||'||'||r2||'|', '|'||l||r2||'|') AS r
         |  FROM docs_$p, best_$i)""".stripMargin
    }
    (head +: iters).mkString("WITH ", ",\n", "")
  }

  /** docs_<Merges> projected to per-doc token counts — the shared tail
    * of every BPE oracle. */
  private def perDocSql: String =
    s"""$chainSql,
       |bpe AS MATERIALIZED (
       |  SELECT doc_id, source,
       |    CAST((length(r) - length(replace(r, '|', ''))) / 2 AS BIGINT) AS n_bpe,
       |    CAST(n_ws AS BIGINT) AS n_ws
       |  FROM docs_$Merges)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_tokens_bpe" -> (tokensBpe _),
    "text_tokens_bpek" -> (tokensBpeKernel _),
    "docs_split_bpe" -> (splitBpe _),
    "docs_pack_bpe" -> (packBpe _),
    "docs_mix_bpe" -> (mixBpe _),
    "text_vocab_bpe" -> (vocabBpe _)
  )

  val oracles: Map[String, String] = Map(
    "text_tokens_bpe" ->
      s"""$perDocSql
         |SELECT doc_id, n_bpe AS n_tokens_bpe, n_ws AS n_tokens_ws,
         |  round((CAST(n_bpe AS DOUBLE) / nullif(n_ws, 0)) + 1e-9, 6)
         |    AS tokens_per_word
         |FROM bpe""".stripMargin,
    // the kernel path replays the SAME training + apply semantics, so
    // its oracle IS text_tokens_bpe's — the driver gates the rank-table
    // kernel against the replayed replace chain end-to-end
    "text_tokens_bpek" ->
      s"""$perDocSql
         |SELECT doc_id, n_bpe AS n_tokens_bpe, n_ws AS n_tokens_ws,
         |  round((CAST(n_bpe AS DOUBLE) / nullif(n_ws, 0)) + 1e-9, 6)
         |    AS tokens_per_word
         |FROM bpe""".stripMargin,
    "docs_split_bpe" ->
      s"""$perDocSql
         |SELECT source,
         |  CASE WHEN ${TrainingPrep.bucketSql} < ${TrainingPrep.TrainPct} THEN 'train'
         |       WHEN ${TrainingPrep.bucketSql} < ${TrainingPrep.ValPct} THEN 'val'
         |       ELSE 'test' END AS subset,
         |  count(*) AS n_docs,
         |  CAST(sum(n_bpe) AS BIGINT) AS n_tokens
         |FROM bpe
         |GROUP BY source, subset""".stripMargin,
    "docs_pack_bpe" ->
      s"""$perDocSql,
         |d AS (
         |  SELECT source, doc_id % ${TrainingPrep.PackShards} AS shard, doc_id,
         |    n_bpe AS n_tokens
         |  FROM bpe),
         |c AS (
         |  SELECT *, CAST(coalesce(sum(n_tokens) OVER (
         |      PARTITION BY source, shard ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |    AS cum_before
         |  FROM d)
         |SELECT source, shard, doc_id, n_tokens,
         |  cum_before // ${TrainingPrep.SeqLen} AS seq_id,
         |  cum_before % ${TrainingPrep.SeqLen} AS seq_offset
         |FROM c""".stripMargin,
    "text_vocab_bpe" ->
      s"""$chainSql,
         |tok AS MATERIALIZED (
         |  SELECT unnest(string_split(trim(r, '|'), '||')) AS token, cnt
         |  FROM vocab_$Merges)
         |SELECT token, CAST(sum(cnt) AS BIGINT) AS cnt
         |FROM tok GROUP BY token
         |ORDER BY cnt DESC, token LIMIT 50""".stripMargin,
    "docs_mix_bpe" ->
      s"""$perDocSql,
         |s AS (
         |  SELECT source, CAST(sum(n_bpe) AS BIGINT) AS n_tokens
         |  FROM bpe GROUP BY source),
         |t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot FROM s),
         |w AS (
         |  SELECT source, n_tokens,
         |    CAST(n_tokens AS DOUBLE) / tot AS share,
         |    sqrt(CAST(n_tokens AS DOUBLE) / tot) AS w_raw
         |  FROM s CROSS JOIN t),
         |z AS (SELECT sum(w_raw) AS z FROM w)
         |SELECT source, n_tokens,
         |  round(share + 1e-9, 6) AS token_share,
         |  round((w_raw / z) + 1e-9, 6) AS mix_weight
         |FROM w CROSS JOIN z""".stripMargin
  )
}
