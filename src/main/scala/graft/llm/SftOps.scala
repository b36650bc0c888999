package graft.llm

import graft.api.{QueryModule, QuerySpec}
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Instruction-tuning (SFT) data operators: the structural passes a
  * conversation corpus goes through between "scraped/exported dialogs" and
  * "the trainer reads tensors" (reference analog: the bronze→silver
  * validity gating of `01_bronze_layer_ingestion.py:39-45` — these are its
  * chat-transcript cousins, where the validity rules are about dialog
  * STRUCTURE rather than column nullness).
  *
  *   - `llm_sft_parse`        — parse role-prefixed transcripts into turns
  *                              and grade each dialog's structure: role
  *                              alternation ((s,)?u,a(,u,a)* — optional
  *                              system, then strictly alternating
  *                              user/assistant pairs), no empty turns,
  *                              ends on an assistant turn. Malformed
  *                              dialogs (merged user turns, unanswered
  *                              trailing prompts, empty responses) are the
  *                              three defects real SFT exports carry.
  *   - `llm_sft_tokens`       — loss-mask token accounting: SFT loss is
  *                              computed on ASSISTANT tokens only, so the
  *                              trainer's effective batch size is the mask
  *                              ratio, not the row count. Per dialog:
  *                              prompt vs assistant vs total whitespace
  *                              tokens and the mask ratio (one IEEE
  *                              division of exact integer counts).
  *   - `llm_sft_prompt_dedup` — cross-dialog dedup keyed on the FIRST user
  *                              turn (the prompt): duplicated prompts are
  *                              endemic in pooled SFT sets; the survivor
  *                              is the dialog with the most assistant
  *                              content (ties → smallest doc_id) — dedup
  *                              that keeps the best response, not an
  *                              arbitrary one.
  *   - `llm_sft_report`       — the per-source curation report a dataset
  *                              owner reads before a run: dialog counts,
  *                              per-defect counts, validity share, mean
  *                              turns, assistant-token share.
  *
  * Fixture decoration (see FIXTURES.md §C): transcripts are constructed
  * deterministically from `documents` — `1 + doc_id % 3` user/assistant
  * pairs of text slices, a system line unless `doc_id % 4 = 0`, a repeated
  * user line at `% 17 = 0`, an empty final assistant turn at `% 23 = 0`,
  * an unanswered trailing user prompt at `% 19 = 0`, and a 3-prompt pool
  * replacing the first user turn at `% 11 = 0` (so prompt dedup has real
  * duplicate groups). The construction is a dialect-neutral SQL fragment
  * shared verbatim with the DuckDB oracles, so parse → validate → count →
  * dedup semantics are differential-checked end to end.
  *
  * Scale posture (100 TB): parse/tokens/report are single-scan map passes
  * (all turn work is array HOFs inside whole-stage codegen — no explode,
  * no per-turn shuffle) with an O(|sources|) final aggregate; prompt dedup
  * is ONE shuffle keyed on `(xxhash64(prompt), prompt)` with two windows
  * over the same partitioning — hash-led so the window sort compares
  * 8-byte integers, prompt-second so a hash collision can never merge
  * two groups (output identical to a plain prompt key).
  * Every reported fraction is one IEEE division of exact integer
  * aggregates, never a float sum (see [[graft.api.Exact]]).
  */
object SftOps extends QueryModule {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  // ------------------------------------------------------------------
  // Transcript construction — dialect-neutral (||, CASE, %, substr, chr),
  // shared verbatim between the Spark expression and the DuckDB oracle.
  // Every line carries a trailing newline; the parser drops the empty
  // tail, which also makes it robust to trailing-newline exports.
  private[graft] def sftWrapSql(id: String, text: String): String = {
    def u(i: Int): String =
      if (i == 0)
        s"""CASE WHEN $id % 11 = 0 THEN
              CASE WHEN $id % 3 = 0 THEN 'summarize the document in one sentence'
                   WHEN $id % 3 = 1 THEN 'list the key entities mentioned'
                   ELSE 'translate the passage to french' END
            ELSE substr($text, 1, 32) END"""
      else s"substr($text, ${1 + 7 * i}, 32)"
    def a(i: Int): String =
      s"""CASE WHEN $id % 23 = 0 AND $id % 3 = $i THEN ''
          ELSE substr($text, ${4 + 11 * i}, 48) END"""
    def pair(i: Int): String = {
      val dupUser =
        if (i == 0)
          s""" || CASE WHEN $id % 17 = 0
                  THEN 'user: ' || ${u(i)} || chr(10) ELSE '' END"""
        else ""
      s"""('user: ' || ${u(i)} || chr(10)$dupUser
           || 'assistant: ' || ${a(i)} || chr(10))"""
    }
    s"""(CASE WHEN $id % 4 <> 0
              THEN 'system: follow the corpus instructions carefully' || chr(10)
              ELSE '' END
        || ${pair(0)}
        || CASE WHEN $id % 3 >= 1 THEN ${pair(1)} ELSE '' END
        || CASE WHEN $id % 3 >= 2 THEN ${pair(2)} ELSE '' END
        || CASE WHEN $id % 19 = 0
                THEN 'user: ' || substr($text, 9, 24) || chr(10) ELSE '' END)"""
  }

  /** Spark-side turn parser: split on newline, strip the `role: ` prefix,
    * drop the empty tail line. Array HOFs only — no explode. */
  private[graft] val turnsExpr: String =
    """filter(
         transform(split(convo, chr(10)),
           l -> named_struct(
             'role', substring_index(l, ':', 1),
             'content', substr(l, length(substring_index(l, ':', 1)) + 3))),
         t -> t.role <> '')"""

  /** Oracle-side (DuckDB) turn parser over the same transcript. */
  private def oracleTurns: String =
    """list_filter(
         list_transform(string_split(convo, chr(10)),
           l -> struct_pack(role := split_part(l, ':', 1),
                            content := substr(l, length(split_part(l, ':', 1)) + 3))),
         x -> x.role <> '')"""

  private def oracleBase: String =
    s"""WITH base AS (
          SELECT doc_id, source, ${sftWrapSql("doc_id", "text")} AS convo
          FROM documents),
        t AS (
          SELECT doc_id, source, $oracleTurns AS turns FROM base)"""

  /** Per-dialog frame every query selects from: parsed turns + structure
    * flags + token accounting, all computed in one codegen'd scan. */
  def perDoc(s: SparkSession, dir: String): DataFrame = {
    // Tokenize each turn ONCE (role, ntok), then fold the tiny count array
    // per mask — half the split/filter work of two independent token folds.
    def sumTok(filterSql: String): String =
      s"""aggregate(turntok, CAST(0 AS BIGINT),
            (acc, t) -> acc + CASE WHEN $filterSql
              THEN t.ntok ELSE CAST(0 AS BIGINT) END)"""
    docs(s, dir)
      .withColumn("convo", expr(sftWrapSql("doc_id", "text")))
      .withColumn("turns", expr(turnsExpr))
      .withColumn("n_turns", expr("CAST(size(turns) AS INT)"))
      .withColumn("n_user",
        expr("CAST(size(filter(turns, t -> t.role = 'user')) AS INT)"))
      .withColumn("n_assistant",
        expr("CAST(size(filter(turns, t -> t.role = 'assistant')) AS INT)"))
      .withColumn("has_system",
        expr("size(filter(turns, t -> t.role = 'system')) > 0"))
      .withColumn("roles",
        expr("array_join(transform(turns, t -> substr(t.role, 1, 1)), ',')"))
      .withColumn("valid_alternation",
        expr("regexp_like(roles, '^(s,)?u,a(,u,a)*$')"))
      .withColumn("ends_assistant", expr("right(roles, 1) = 'a'"))
      .withColumn("has_empty_turn", expr("exists(turns, t -> t.content = '')"))
      .withColumn("is_valid",
        expr("valid_alternation AND NOT has_empty_turn"))
      .withColumn("turntok",
        expr("""transform(turns, t -> named_struct('role', t.role,
                  'ntok', CAST(size(filter(split(t.content, ' '), w -> w <> '')) AS BIGINT)))"""))
      .withColumn("assistant_tokens", expr(sumTok("t.role = 'assistant'")))
      .withColumn("total_tokens", expr(sumTok("true")))
      .withColumn("prompt",
        expr("filter(turns, t -> t.role = 'user')[0].content"))
      .withColumn("assistant_chars",
        expr("""aggregate(turns, CAST(0 AS BIGINT),
                  (acc, t) -> acc + CASE WHEN t.role = 'assistant'
                    THEN CAST(length(t.content) AS BIGINT)
                    ELSE CAST(0 AS BIGINT) END)"""))
  }

  /** Oracle fragment mirroring [[perDoc]]'s derived columns. */
  private def oraclePerDoc: String =
    s"""$oracleBase,
        d AS (
          SELECT doc_id, source,
                 CAST(len(turns) AS INT) AS n_turns,
                 CAST(len(list_filter(turns, x -> x.role = 'user')) AS INT)
                   AS n_user,
                 CAST(len(list_filter(turns, x -> x.role = 'assistant')) AS INT)
                   AS n_assistant,
                 len(list_filter(turns, x -> x.role = 'system')) > 0
                   AS has_system,
                 array_to_string(list_transform(turns, x -> substr(x.role, 1, 1)), ',')
                   AS roles,
                 regexp_matches(
                   array_to_string(list_transform(turns, x -> substr(x.role, 1, 1)), ','),
                   '^(s,)?u,a(,u,a)*$$') AS valid_alternation,
                 right(array_to_string(list_transform(turns, x -> substr(x.role, 1, 1)), ','), 1) = 'a'
                   AS ends_assistant,
                 len(list_filter(turns, x -> x.content = '')) > 0
                   AS has_empty_turn,
                 CAST(list_sum(list_transform(turns,
                   x -> CASE WHEN x.role = 'assistant'
                        THEN len(list_filter(string_split(x.content, ' '), w -> w <> ''))
                        ELSE 0 END)) AS BIGINT) AS assistant_tokens,
                 CAST(list_sum(list_transform(turns,
                   x -> len(list_filter(string_split(x.content, ' '), w -> w <> ''))))
                   AS BIGINT) AS total_tokens,
                 list_filter(turns, x -> x.role = 'user')[1].content AS prompt,
                 CAST(list_sum(list_transform(turns,
                   x -> CASE WHEN x.role = 'assistant' THEN length(x.content)
                        ELSE 0 END)) AS BIGINT) AS assistant_chars
          FROM t)"""

  def queries: Map[String, QuerySpec] = Map(
    // ------------------------------------------------------------------
    // Structure report: one row per dialog with the parse and every
    // validity verdict. Single scan, all HOFs.
    "llm_sft_parse" -> QuerySpec(
      fn = (s, dir) => perDoc(s, dir).select(
        "doc_id", "n_turns", "n_user", "n_assistant", "has_system", "roles",
        "valid_alternation", "ends_assistant", "has_empty_turn", "is_valid"),
      oracle = Some(s"""
        $oraclePerDoc
        SELECT doc_id, n_turns, n_user, n_assistant, has_system, roles,
               valid_alternation, ends_assistant, has_empty_turn,
               valid_alternation AND NOT has_empty_turn AS is_valid
        FROM d""")),

    // ------------------------------------------------------------------
    // Loss-mask accounting: assistant tokens are the only ones the SFT
    // loss sees; the ratio is the dialog's effective training density.
    "llm_sft_tokens" -> QuerySpec(
      fn = (s, dir) => perDoc(s, dir).select(
        col("doc_id"), col("n_turns"),
        (col("total_tokens") - col("assistant_tokens")).as("prompt_tokens"),
        col("assistant_tokens"), col("total_tokens"),
        (col("assistant_tokens").cast("double") / col("total_tokens"))
          .as("loss_mask_ratio")),
      oracle = Some(s"""
        $oraclePerDoc
        SELECT doc_id, n_turns,
               total_tokens - assistant_tokens AS prompt_tokens,
               assistant_tokens, total_tokens,
               CAST(assistant_tokens AS DOUBLE) / total_tokens
                 AS loss_mask_ratio
        FROM d""")),

    // ------------------------------------------------------------------
    // TRAINER-TRUE loss-mask accounting: the same per-turn mask split as
    // llm_sft_tokens, but counted in the tokens the trainer actually
    // emits — the engine's own learned BPE merges (llm_bpe_train),
    // applied per word with the boundary-safe serialize → replace×3 →
    // count program of llm_bpe_apply. Whitespace words over-count the
    // loss density of morphology-heavy text; the mask ratio in merge
    // tokens is what sizes the effective batch. Composition shape: the
    // merges collapse to 3 driver-side string literals (the k-means
    // centroid discipline — training reduces to the vocab table, O(1)
    // rides into this query), application is array HOFs inside the one
    // transcript scan — no shuffle, no explode, no join between the two
    // programs. The oracle re-derives the merges itself (bpeTrainCtes)
    // and re-applies them over the same turn parse, so the WHOLE
    // train → parse → apply → mask chain is differential-checked.
    "llm_sft_bpe_tokens" -> QuerySpec(
      fn = (s, dir) => {
        val merges = TextAnalysis.bpeTrainDf(s, dir).orderBy("round").collect()
          .map(r => (r.getString(1), r.getString(2)))
        def lit_(v: String) = "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
        // Native codegen apply — same rewrite as llm_bpe_apply (§4): the
        // per-word serialize→replace→count program as one tight loop
        // (bit-identical; BpeTokenCountSpec).
        val pairsSql = merges.map { case (a, b) => s", ${lit_(a)}, ${lit_(b)}" }.mkString
        def sumBpe(filterSql: String): String =
          s"""aggregate(turnbpe, CAST(0 AS BIGINT),
                (acc2, t) -> acc2 + CASE WHEN $filterSql
                  THEN t.ntok ELSE CAST(0 AS BIGINT) END)"""
        // Fanout: the parse→tokenize→apply chain is pure per-doc CPU behind
        // a single-row-group scan — widen first (no-op at cluster scale;
        // column pruning still projects below the round-robin exchange).
        graft.api.Fanout.widen(docs(s, dir))
          .withColumn("convo", expr(sftWrapSql("doc_id", "text")))
          .withColumn("turns", expr(turnsExpr))
          .withColumn("n_turns", expr("CAST(size(turns) AS INT)"))
          // Each turn tokenized ONCE into (role, BPE-token count): words
          // split as the trainer splits them, each word merged and its
          // post-merge symbol count folded inside bpe_token_count —
          // never materializing symbols.
          .withColumn("turnbpe", expr(
            s"""transform(turns, t -> named_struct('role', t.role, 'ntok',
                  bpe_token_count(
                    filter(split(lower(t.content), '\\\\s+'),
                           w -> length(w) >= 1)$pairsSql)))"""))
          .withColumn("assistant_bpe", expr(sumBpe("t.role = 'assistant'")))
          .withColumn("total_bpe", expr(sumBpe("true")))
          .select(col("doc_id"), col("n_turns"),
            (col("total_bpe") - col("assistant_bpe")).as("prompt_bpe"),
            col("assistant_bpe"), col("total_bpe"),
            (col("assistant_bpe").cast("double") / col("total_bpe"))
              .as("loss_mask_ratio_bpe"))
      },
      oracle = Some(s"""
        WITH ${TextAnalysis.bpeTrainCtes},
        base AS (
          SELECT doc_id, ${sftWrapSql("doc_id", "text")} AS convo
          FROM documents),
        t AS (SELECT doc_id, $oracleTurns AS turns FROM base),
        tr AS (SELECT doc_id, unnest(turns) AS turn FROM t),
        tw AS (
          SELECT doc_id, turn.role AS role,
                 unnest(list_filter(
                   string_split_regex(lower(turn.content), '\\s+'),
                   w -> length(w) >= 1)) AS w
          FROM tr),
        ap AS (
          SELECT doc_id, role,
                 replace(replace(replace(
                     '|' || array_to_string(string_split(w, ''), '||') || '|',
                     '|' || (SELECT a FROM b1) || '||' || (SELECT b FROM b1) || '|',
                     '|' || (SELECT a FROM b1) || (SELECT b FROM b1) || '|'),
                     '|' || (SELECT a FROM b2) || '||' || (SELECT b FROM b2) || '|',
                     '|' || (SELECT a FROM b2) || (SELECT b FROM b2) || '|'),
                     '|' || (SELECT a FROM b3) || '||' || (SELECT b FROM b3) || '|',
                     '|' || (SELECT a FROM b3) || (SELECT b FROM b3) || '|') AS r3
          FROM tw),
        agg AS (
          SELECT doc_id,
                 CAST(SUM(CASE WHEN role = 'assistant'
                   THEN len(string_split(substring(r3, 2, length(r3) - 2), '||'))
                   ELSE 0 END) AS BIGINT) AS assistant_bpe,
                 CAST(SUM(len(string_split(substring(r3, 2, length(r3) - 2), '||')))
                   AS BIGINT) AS total_bpe
          FROM ap GROUP BY doc_id)
        SELECT t.doc_id, CAST(len(t.turns) AS INT) AS n_turns,
               agg.total_bpe - agg.assistant_bpe AS prompt_bpe,
               agg.assistant_bpe, agg.total_bpe,
               CAST(agg.assistant_bpe AS DOUBLE) / agg.total_bpe
                 AS loss_mask_ratio_bpe
        FROM t JOIN agg USING (doc_id)""")),

    // ------------------------------------------------------------------
    // Prompt dedup: group on the first user turn; survivor = most
    // assistant characters, ties to the smallest doc_id. One shuffle on
    // the prompt key, two windows over the same partitioning.
    //
    // The window key leads with xxhash64(prompt): at corpus scale the
    // prompt is an arbitrarily long string, and WindowExec sorts its
    // partition by the full partitionBy+orderBy key — leading with the
    // 8-byte hash makes every comparison an integer compare that only
    // falls back to the string on hash-equal (i.e. same prompt, modulo
    // collisions). The raw prompt STAYS second in the key, so a 64-bit
    // collision between two hot prompts can never merge their groups —
    // output is bit-identical to the plain (prompt) spelling. Hot
    // prompts ("hello" at 30–50 % of a pooled export) still serialize
    // through one partition — that is the window's semantics — but the
    // sort inside it is hash-speed; the GRAFT_SOAK hot-prompt run pins
    // the bound.
    "llm_sft_prompt_dedup" -> QuerySpec(
      fn = (s, dir) => {
        // The hash is computed ONCE as a named column: partitioning both
        // windows by the same attribute keeps them in one Exchange —
        // inlining xxhash64 into each Window spec re-projects it with a
        // fresh attribute per window and Catalyst plans TWO shuffles
        // (caught by the plan-shape spec).
        val byPrompt = Window.partitionBy(col("pk"), col("prompt"))
        val ranked = byPrompt.orderBy(col("assistant_chars").desc, col("doc_id"))
        perDoc(s, dir)
          .withColumn("pk", xxhash64(col("prompt")))
          .withColumn("group_size", count(lit(1)).over(byPrompt).cast("int"))
          .withColumn("keep", row_number().over(ranked) === 1)
          .select("doc_id", "prompt", "group_size", "assistant_chars", "keep")
      },
      oracle = Some(s"""
        $oraclePerDoc
        SELECT doc_id, prompt,
               CAST(COUNT(*) OVER (PARTITION BY prompt) AS INT) AS group_size,
               assistant_chars,
               row_number() OVER (PARTITION BY prompt
                                  ORDER BY assistant_chars DESC, doc_id) = 1
                 AS keep
        FROM d""")),

    // ------------------------------------------------------------------
    // Preference-pair export (the DPO/RLHF shape): within each group of
    // VALID dialogs sharing a prompt, the best response (most assistant
    // content, smallest-id tie-break) becomes `chosen` and every other
    // member a `rejected` — one (chosen, rejected) row per pair, with the
    // content margin. Composes the parse gate with the dedup grouping:
    // invalid dialogs can be neither chosen nor rejected. Same single
    // prompt-keyed shuffle as the dedup; the pair fan-out is bounded by
    // group size, never corpus size.
    "llm_sft_pairs" -> QuerySpec(
      fn = (s, dir) => {
        // One window pass: rank + first_value over the same (prompt)
        // partitioning — a chosen-vs-rejected SELF-JOIN would recompute
        // the whole parse chain once per branch. Hash-led key like
        // llm_sft_prompt_dedup (one named pk column shared by the three
        // window functions): integer compares in the window sort, the
        // raw prompt second for collision-exactness.
        val ranked = Window.partitionBy(col("pk"), col("prompt"))
          .orderBy(col("assistant_chars").desc, col("doc_id"))
        perDoc(s, dir).filter(col("is_valid"))
          .select("doc_id", "prompt", "assistant_chars")
          .withColumn("pk", xxhash64(col("prompt")))
          .withColumn("rn", row_number().over(ranked))
          .withColumn("chosen_id", first(col("doc_id")).over(ranked))
          .withColumn("chosen_chars", first(col("assistant_chars")).over(ranked))
          .filter(col("rn") > 1)
          .select(col("prompt"), col("chosen_id"),
            col("doc_id").as("rejected_id"), col("chosen_chars"),
            col("assistant_chars").as("rejected_chars"),
            (col("chosen_chars") - col("assistant_chars")).as("margin"))
      },
      oracle = Some(s"""
        $oraclePerDoc,
        valid AS (
          SELECT doc_id, prompt, assistant_chars,
                 row_number() OVER w AS rn,
                 first_value(doc_id) OVER w AS chosen_id,
                 first_value(assistant_chars) OVER w AS chosen_chars
          FROM d WHERE valid_alternation AND NOT has_empty_turn
          WINDOW w AS (PARTITION BY prompt
                       ORDER BY assistant_chars DESC, doc_id))
        SELECT prompt, chosen_id, doc_id AS rejected_id, chosen_chars,
               assistant_chars AS rejected_chars,
               chosen_chars - assistant_chars AS margin
        FROM valid WHERE rn > 1""")),

    // ------------------------------------------------------------------
    // Per-source curation report: counts are exact integers; every share
    // is ONE division of exact aggregates.
    "llm_sft_report" -> QuerySpec(
      fn = (s, dir) => perDoc(s, dir)
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_convos"),
          sum(when(col("is_valid"), 1L).otherwise(0L)).as("n_valid"),
          sum(when(!col("valid_alternation"), 1L).otherwise(0L))
            .as("n_alt_violation"),
          sum(when(col("has_empty_turn"), 1L).otherwise(0L))
            .as("n_empty_turn"),
          sum(when(!col("ends_assistant"), 1L).otherwise(0L))
            .as("n_unanswered"),
          sum(col("n_turns").cast("long")).as("sum_turns"),
          sum(col("assistant_tokens")).as("sum_assistant_tokens"),
          sum(col("total_tokens")).as("sum_total_tokens"))
        .select(
          col("source"), col("n_convos"), col("n_valid"),
          col("n_alt_violation"), col("n_empty_turn"), col("n_unanswered"),
          (col("n_valid").cast("double") / col("n_convos")).as("pct_valid"),
          (col("sum_turns").cast("double") / col("n_convos")).as("avg_turns"),
          (col("sum_assistant_tokens").cast("double") / col("sum_total_tokens"))
            .as("assistant_token_share")),
      oracle = Some(s"""
        $oraclePerDoc
        SELECT source,
               COUNT(*) AS n_convos,
               CAST(SUM(CASE WHEN valid_alternation AND NOT has_empty_turn
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
               CAST(SUM(CASE WHEN NOT valid_alternation THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_alt_violation,
               CAST(SUM(CASE WHEN has_empty_turn THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_empty_turn,
               CAST(SUM(CASE WHEN NOT ends_assistant THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_unanswered,
               CAST(CAST(SUM(CASE WHEN valid_alternation AND NOT has_empty_turn
                                  THEN 1 ELSE 0 END) AS BIGINT) AS DOUBLE)
                 / COUNT(*) AS pct_valid,
               CAST(CAST(SUM(n_turns) AS BIGINT) AS DOUBLE) / COUNT(*)
                 AS avg_turns,
               CAST(CAST(SUM(assistant_tokens) AS BIGINT) AS DOUBLE)
                 / CAST(SUM(total_tokens) AS BIGINT)
                 AS assistant_token_share
        FROM d
        GROUP BY source""")))
}
