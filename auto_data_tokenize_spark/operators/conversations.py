"""Conversation-structure audit and chat-template rendering — the
transcripts-to-training-data layer.

The reference's end product is a tokenized transcript CSV with stable
(conv_id, turn_idx) ordering (pipeline/CsvTokenizationAndOrderingPipeline.java
— SortCsvRow + orderingColumnNames); training an assistant on those
transcripts needs two more steps that are pure corpus engineering:

* **audit**: flag conversations whose turn structure is malformed —
  wrong opening role, no agent reply, tool-result turns with no
  preceding tool call, degenerate same-role runs — the transcript
  analogue of C4/CCNet document heuristics. Every rule is a window
  or aggregate over (conv_id, turn_idx), i.e. ONE hash partition on
  conv_id end to end (windows and the final groupBy share the key,
  so Catalyst plans a single Exchange).
* **render**: serialize each conversation into one training document
  under a deterministic chat template (``<|role|>`` /
  ``<|role:tool|>`` headers, newline-joined, ``<|end|>`` terminator)
  with a whitespace token count, ready for ``pack_sequences``.

Both are exactly SQL-expressible (window functions + ordered
string_agg), so they carry full DuckDB oracle twins.

At 10^12-turn scale the conv_id hash partition is the natural unit
(the north rule's skew guidance applies upstream: salted shuffles for
hot conversations are in operators/skew.py); neither operator holds
more than one conversation in memory at a time and neither touches
Python row-by-row — everything is JVM codegen + one sort-based
aggregation per conversation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

__all__ = [
    "conversation_audit",
    "render_chat",
    "loss_mask_spans",
    "conversation_windows",
    "conversation_windows_stream",
    "assemble_windows",
    "duckdb_assemble_windows_sql",
    "duckdb_conversation_windows_sql",
    "conversation_fingerprints",
    "conversation_near_dups",
    "conversation_dedup",
    "corpus_fingerprint_index",
    "turn_containment_stream",
    "duckdb_conversation_audit_sql",
    "duckdb_render_chat_sql",
    "duckdb_loss_mask_sql",
    "duckdb_conversation_near_dups_sql",
    "duckdb_conversation_dedup_sql",
    "duckdb_turn_containment_sql",
]

#: Chat-template framing (public convention shape: role-tagged headers
#: as in ChatML-style corpora; the exact literals are this engine's).
_HDR_OPEN = "<|"
_HDR_CLOSE = "|>"
_EOC = "<|end|>"


def _piece_expr(role: str = "role", tool: str = "tool", text: str = "text"):
    """``<|role|>text`` or ``<|role:tool|>text`` for tool-call turns.

    concat() is null-safe here because role/text are coalesced; the
    tool suffix is dropped for NULL tool on BOTH engines via the
    null-skipping concat_ws.
    """
    hdr = F.concat(
        F.lit(_HDR_OPEN),
        F.concat_ws(":", F.coalesce(F.col(role), F.lit("")), F.col(tool)),
        F.lit(_HDR_CLOSE),
    )
    return F.concat(hdr, F.coalesce(F.col(text), F.lit("")))


def conversation_audit(
    turns: DataFrame,
    max_role_run: int = 3,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
) -> DataFrame:
    """Per-conversation structural metrics + a validity verdict.

    Output: (conv_id, n_turns, first_role, n_customer, n_agent,
    n_tool_results, orphan_tool_results, longest_role_run,
    structurally_valid).

    Rules (each also surfaced as a metric so the verdict is
    auditable):

    * opens with a ``customer`` turn,
    * has at least one ``agent`` turn,
    * every ``role='tool'`` turn (a tool RESULT) directly follows a
      turn that carries a tool CALL (``tool`` set on a non-tool
      role),
    * no same-role run longer than ``max_role_run``.

    Plan shape: lag + run-length windows partitioned by conv_id,
    then a groupBy on conv_id — one Exchange total.
    """
    if max_role_run < 1:
        raise ValueError(f"max_role_run must be >= 1, got {max_role_run}")
    w = Window.partitionBy(conv_col).orderBy(idx_col)
    with_prev = turns.select(
        conv_col,
        idx_col,
        "role",
        "tool",
        F.lag("role").over(w).alias("_prev_role"),
        F.lag("tool").over(w).alias("_prev_tool"),
        F.row_number().over(w).alias("_rn"),
    )
    # gaps-and-islands: runs of equal role are grouped by
    # (row_number over conv) - (row_number over conv+role)
    w_role = Window.partitionBy(conv_col, "role").orderBy(idx_col)
    runs = with_prev.withColumn(
        "_grp", F.col("_rn") - F.row_number().over(w_role)
    )
    # null-safe on purpose: a NULL role is never a tool result, and a
    # NULL _prev_role is never a valid tool CALL — plain =/!= would
    # three-valued-NULL out of the sum() for exactly the malformed
    # rows this audit exists to count.
    orphan = (
        F.col("role").eqNullSafe("tool")
        & ~(
            F.col("_prev_tool").isNotNull()
            & F.col("_prev_role").isNotNull()
            & (F.col("_prev_role") != "tool")
        )
    ).cast("int")
    per_run = runs.groupBy(conv_col, "role", "_grp").agg(
        F.count(F.lit(1)).cast("long").alias("_run_len"),
        F.sum(orphan).cast("long").alias("_orphans"),
        F.max(F.when(F.col("_rn") == 1, F.col("role"))).alias("_first"),
    )
    agg = per_run.groupBy(conv_col).agg(
        F.sum("_run_len").cast("long").alias("n_turns"),
        F.max("_first").alias("first_role"),
        F.sum(
            F.when(F.col("role") == "customer", F.col("_run_len")).otherwise(
                F.lit(0)
            )
        )
        .cast("long")
        .alias("n_customer"),
        F.sum(
            F.when(F.col("role") == "agent", F.col("_run_len")).otherwise(
                F.lit(0)
            )
        )
        .cast("long")
        .alias("n_agent"),
        F.sum(
            F.when(F.col("role") == "tool", F.col("_run_len")).otherwise(
                F.lit(0)
            )
        )
        .cast("long")
        .alias("n_tool_results"),
        F.sum("_orphans").cast("long").alias("orphan_tool_results"),
        F.max("_run_len").cast("long").alias("longest_role_run"),
    )
    # eqNullSafe: a NULL first_role (role-less opening turn) must read
    # as invalid=false, not verdict=NULL, or filters on the verdict
    # silently drop the very conversations they should flag.
    return agg.withColumn(
        "structurally_valid",
        F.col("first_role").eqNullSafe("customer")
        & (F.col("n_agent") > 0)
        & (F.col("orphan_tool_results") == 0)
        & (F.col("longest_role_run") <= max_role_run),
    )


def render_chat(
    turns: DataFrame,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
) -> DataFrame:
    """Serialize each conversation to one training document under the
    deterministic chat template. Output: (conv_id, text, n_turns,
    n_tokens) where n_tokens is the shared whitespace-token contract
    (textstats.ws_tokens_expr) over the rendered text.

    One groupBy shuffle on conv_id; the ordered reassembly is the
    same sorted-collect_list shape as lines._reassemble.
    """
    from auto_data_tokenize_spark.operators.textstats import ws_tokens_expr

    pieces = turns.select(
        conv_col,
        F.struct(F.col(idx_col).alias("i"), _piece_expr().alias("p")).alias(
            "_tp"
        ),
    )
    return (
        pieces.groupBy(conv_col)
        .agg(
            F.array_sort(F.collect_list("_tp")).alias("_ps"),
            F.count(F.lit(1)).cast("long").alias("n_turns"),
        )
        .select(
            conv_col,
            F.concat(
                F.concat_ws("\n", F.expr("transform(_ps, s -> s.p)")),
                F.lit("\n" + _EOC),
            ).alias("text"),
            "n_turns",
        )
        .withColumn("n_tokens", ws_tokens_expr("text").cast("long"))
    )


def duckdb_conversation_audit_sql(
    turns_sql: str, max_role_run: int = 3, conv_col: str = "conv_id"
) -> str:
    """DuckDB twin of :func:`conversation_audit`."""
    return f"""
        WITH t AS (
          SELECT *,
                 lag(role) OVER w AS _prev_role,
                 lag(tool) OVER w AS _prev_tool,
                 row_number() OVER w AS _rn,
                 row_number() OVER (PARTITION BY {conv_col}, role
                                    ORDER BY turn_idx NULLS FIRST) AS _rr
          FROM ({turns_sql})
          WINDOW w AS (PARTITION BY {conv_col} ORDER BY turn_idx NULLS FIRST)
        ),
        runs AS (
          SELECT {conv_col}, role, _rn - _rr AS _grp,
                 CASE WHEN role IS NOT DISTINCT FROM 'tool' AND NOT
                      (_prev_tool IS NOT NULL AND _prev_role IS NOT NULL
                       AND _prev_role <> 'tool')
                      THEN 1 ELSE 0 END AS _orphan,
                 CASE WHEN _rn = 1 THEN role END AS _first
          FROM t
        ),
        per_run AS (
          SELECT {conv_col}, role, _grp,
                 count(*) AS _run_len,
                 sum(_orphan) AS _orphans,
                 max(_first) AS _first
          FROM runs GROUP BY 1, 2, 3
        ),
        agg AS (
          SELECT {conv_col},
                 CAST(sum(_run_len) AS BIGINT) AS n_turns,
                 max(_first) AS first_role,
                 CAST(sum(CASE WHEN role = 'customer' THEN _run_len
                          ELSE 0 END) AS BIGINT) AS n_customer,
                 CAST(sum(CASE WHEN role = 'agent' THEN _run_len
                          ELSE 0 END) AS BIGINT) AS n_agent,
                 CAST(sum(CASE WHEN role = 'tool' THEN _run_len
                          ELSE 0 END) AS BIGINT) AS n_tool_results,
                 CAST(sum(_orphans) AS BIGINT) AS orphan_tool_results,
                 CAST(max(_run_len) AS BIGINT) AS longest_role_run
          FROM per_run GROUP BY 1
        )
        SELECT *,
               (first_role IS NOT DISTINCT FROM 'customer'
                AND n_agent > 0
                AND orphan_tool_results = 0
                AND longest_role_run <= {max_role_run})
                 AS structurally_valid
        FROM agg
    """


def duckdb_render_chat_sql(turns_sql: str, conv_col: str = "conv_id") -> str:
    """DuckDB twin of :func:`render_chat`."""
    from auto_data_tokenize_spark.operators.textstats import (
        duckdb_ws_tokens_sql,
    )

    piece = (
        f"'{_HDR_OPEN}' || concat_ws(':', coalesce(role, ''), tool) "
        f"|| '{_HDR_CLOSE}' || coalesce(text, '')"
    )
    return f"""
        WITH r AS (
          SELECT {conv_col},
                 string_agg({piece}, chr(10) ORDER BY turn_idx NULLS FIRST)
                   || chr(10) || '{_EOC}' AS text,
                 count(*) AS n_turns
          FROM ({turns_sql}) GROUP BY 1
        )
        SELECT {conv_col}, text, CAST(n_turns AS BIGINT) AS n_turns,
               CAST({duckdb_ws_tokens_sql("text")} AS BIGINT) AS n_tokens
        FROM r
    """


def loss_mask_spans(
    turns: DataFrame,
    trainable_role: str = "agent",
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    keep_piece: bool = False,
) -> DataFrame:
    """Per-turn TOKEN spans of the rendered conversation, with the
    SFT loss mask: only ``trainable_role`` turns carry loss.

    Output: (conv_id, turn_idx, role, n_piece_tokens, tok_start,
    tok_end, trainable) — [tok_start, tok_end) are whitespace-token
    positions inside :func:`render_chat`'s document for the same
    conversation. Span arithmetic stays exact because every template
    piece ``<|role|>text`` starts with a non-whitespace header glyph
    and pieces join on ``\\n``, so every maximal
    non-whitespace run of the rendered document lies inside exactly
    one piece — piece token counts sum to the document count plus the
    final ``<|end|>`` token, with no boundary merging, for any text
    (empty, whitespace-only, embedded newlines, trailing tabs or
    newlines). Counting therefore uses non-whitespace RUNS
    (``regexp_extract_all '\\S+'``) rather than split-after-trim:
    ``trim`` strips only 0x20, so a piece ending in ``\\n``/``\\t``
    would otherwise count a phantom trailing empty token and shift
    every later turn's span.

    Composed with ``pack_sequences`` offsets (one row per conv), the
    global trainable ranges of a packed SFT dataset are
    ``offset + tok_start .. offset + tok_end`` — see q92.

    Plan shape: one running-sum window on (conv_id, turn_idx) — the
    same single conv_id Exchange as audit/render; pure codegen, no
    Python, no join.
    """
    w = (
        Window.partitionBy(conv_col)
        .orderBy(idx_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pieces = turns.select(
        conv_col,
        idx_col,
        "role",
        _piece_expr().alias("_piece"),
    ).withColumn(
        "n_piece_tokens",
        _piece_token_count_col().cast("long"),
    )
    cols = [
        F.col(conv_col),
        F.col(idx_col),
        F.col("role"),
        F.col("n_piece_tokens"),
        (F.col("_cum") - F.col("n_piece_tokens")).alias("tok_start"),
        F.col("_cum").alias("tok_end"),
        (F.col("role") == trainable_role).alias("trainable"),
    ]
    if keep_piece:
        cols.append(F.col("_piece"))
    return pieces.withColumn(
        "_cum", F.sum("n_piece_tokens").over(w).cast("long")
    ).select(*cols)


def duckdb_loss_mask_sql(
    turns_sql: str,
    trainable_role: str = "agent",
    conv_col: str = "conv_id",
    keep_piece: bool = False,
) -> str:
    """DuckDB twin of :func:`loss_mask_spans`."""
    piece = (
        f"'{_HDR_OPEN}' || concat_ws(':', coalesce(role, ''), tool) "
        f"|| '{_HDR_CLOSE}' || coalesce(text, '')"
    )
    piece_out = ", _piece" if keep_piece else ""
    return f"""
        WITH p AS (
          SELECT {conv_col}, turn_idx, role,
                 CAST(length(regexp_extract_all({piece}, '\\S+'))
                      AS BIGINT) AS n_piece_tokens,
                 {piece} AS _piece
          FROM ({turns_sql})
        ),
        c AS (
          SELECT *,
                 CAST(sum(n_piece_tokens)
                        OVER (PARTITION BY {conv_col} ORDER BY turn_idx NULLS FIRST
                              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS _cum
          FROM p
        )
        SELECT {conv_col}, turn_idx, role, n_piece_tokens,
               _cum - n_piece_tokens AS tok_start,
               _cum AS tok_end,
               role = '{trainable_role}' AS trainable{piece_out}
        FROM c
    """


_LONG_MIN = -(2**63)

#: State key count of ``conversation_windows_stream``. A constant, not
#: an option: the checkpointed state is keyed by bucket, so a count
#: that changed across a restart would look conversations up in the
#: wrong bucket.
WINDOW_STATE_BUCKETS = 32


def _validate_chunk_stride(chunk_tokens: int, stride_tokens: int) -> tuple[int, int]:
    """Shared guard for the window operators (one source of truth)."""
    if chunk_tokens < 1:
        raise ValueError(f"chunk_tokens must be >= 1, got {chunk_tokens}")
    if not (1 <= stride_tokens <= chunk_tokens):
        raise ValueError(
            "stride_tokens must satisfy 1 <= stride <= chunk_tokens, "
            f"got stride={stride_tokens} chunk={chunk_tokens}"
        )
    return int(chunk_tokens), int(stride_tokens)


def _ceil_div_pos_expr(x_sql: str, stride: int):
    """ceil(x/s) for possibly-negative x, clamped at 0 (s > 0):
    guarded-positive numerator makes BIGINT ``div`` (truncating)
    equal floor, hence exact ceil — no doubles anywhere. Shared by
    batch and streaming window assignment so the algebra cannot
    drift."""
    return F.expr(
        f"CASE WHEN {x_sql} <= 0 THEN CAST(0 AS BIGINT)"
        f" ELSE ({x_sql} + {stride} - 1) div {stride} END"
    )


def _capped_spans(spans: DataFrame, ch: int, st: int, conv_col: str):
    """The CAPPED batch window algebra — ONE implementation shared by
    the manifest (:func:`conversation_windows`) and the materializer
    (:func:`assemble_windows`) so the two cannot drift: join each
    span row to its conversation total and bound the upper window at
    ``W_last = ceil((N - chunk)/stride)``. Returns ``(joined,
    w_max)``; callers derive ``w_min`` from the shared
    :func:`_ceil_div_pos_expr` primitive. DuckDB twin:
    :func:`_duckdb_capped_lim_cte`."""
    tot = spans.groupBy(conv_col).agg(F.max("tok_end").alias("_n"))
    j = spans.join(tot, conv_col)
    w_last = _ceil_div_pos_expr(f"_n - {ch}", st)
    w_max = F.least(F.expr(f"tok_start div {st}"), w_last)
    return j, w_max


def _duckdb_capped_lim_cte(ch: int, st: int, c: str) -> str:
    """``lim`` CTE over a ``spans`` CTE with the same capped bounds —
    the SQL twin of :func:`_capped_spans`, shared by
    :func:`duckdb_conversation_windows_sql` (cap_trailing mode) and
    :func:`duckdb_assemble_windows_sql`."""
    return f"""lim AS (
          SELECT s.*,
                 CASE WHEN s.tok_end - {ch} <= 0 THEN 0
                      ELSE (s.tok_end - {ch} + {st} - 1) // {st} END AS w_min,
                 LEAST(s.tok_start // {st},
                       CASE WHEN t.n - {ch} <= 0 THEN 0
                            ELSE (t.n - {ch} + {st} - 1) // {st} END) AS w_max
          FROM spans s JOIN (
            SELECT {c}, MAX(tok_end) AS n FROM spans GROUP BY 1
          ) t USING ({c})
        )"""


def _piece_token_count_col():
    """Whitespace-token count of the ``_piece`` column — THE shared
    tokenization expression (non-whitespace runs; see
    :func:`loss_mask_spans` for why runs, not split-after-trim)."""
    return F.size(F.expr("regexp_extract_all(_piece, '\\\\S+', 0)"))


def _fan_out_windows(
    spans: DataFrame,
    ch: int,
    st: int,
    conv_col: str,
    idx_col: str,
    w_max,
    assignable=None,
) -> DataFrame:
    """Shared explode/select tail of the window operators: fan each
    span into its [w_min, w_max] windows, emitting ONE window_id-NULL
    quarantine row when the range is empty (or ``assignable`` is
    false/NULL). Output schema is identical for batch and stream —
    ``turn_idx`` normalized to BIGINT."""
    w_min = _ceil_div_pos_expr(f"tok_end - {ch}", st)
    cond = w_min <= w_max
    if assignable is not None:
        cond = assignable & cond
    fan = spans.withColumn(
        "window_id",
        F.explode(
            F.when(cond, F.sequence(w_min, w_max)).otherwise(
                F.array(F.lit(None).cast("long"))
            )
        ),
    )
    return fan.select(
        conv_col,
        "window_id",
        (F.col("window_id") * F.lit(st)).cast("long").alias("w_start"),
        F.col(idx_col).cast("long").alias(idx_col),
        "role",
        "tok_start",
        "tok_end",
        "trainable",
    )


def conversation_windows(
    turns: DataFrame,
    chunk_tokens: int = 64,
    stride_tokens: int = 32,
    trainable_role: str = "agent",
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
) -> DataFrame:
    """Turn-aligned context-window chunking of rendered conversations
    — the SFT complement to ``corpus.chunk_documents``: long
    conversations become overlapping training windows of at most
    ``chunk_tokens`` whitespace tokens advancing ``stride_tokens`` per
    window, but TURNS NEVER SPLIT. A turn belongs to window ``w``
    exactly when its :func:`loss_mask_spans` span [tok_start, tok_end)
    fits inside [w*stride, w*stride + chunk):

        w_min = max(0, ceil((tok_end - chunk)/stride))
        w_max = min(floor(tok_start/stride), W_last)

    with ``W_last = max(0, ceil((n_conv - chunk)/stride))`` capping
    the trailing near-empty windows (the same census rule as
    ``chunk_documents``: last window start < n - chunk + stride). A
    turn with an empty [w_min, w_max] range — longer than the chunk,
    or straddling every stride boundary near its length — is emitted
    ONCE with ``window_id NULL`` (explicit quarantine, never silent
    loss; window assembly treats those as overflow to handle by
    policy). Token totals are PIECE tokens (``render_chat``'s final
    ``<|end|>`` sentinel is per emitted window, added downstream).

    Output: (conv_id, window_id, w_start, turn_idx, role,
    tok_start, tok_end, trainable) — one row per (turn, window)
    membership; ``tok_start - w_start`` is the turn's offset inside
    its window; ``turn_idx`` is normalized to BIGINT (the streaming
    twin's schema — the two manifests compare column-for-column).

    All integer arithmetic: ceil(x/s) uses the truncating-div identity
    on guarded-positive numerators (both engines), so the two sides
    cannot drift on boundary turns.

    Plan shape: :func:`loss_mask_spans`' single conv Exchange feeds
    the per-conversation total (groupBy conv — partitioning reused),
    the self-join on conv (reused again), and a pure-codegen
    explode(sequence) fan-out. One shuffle of a narrow projection at
    any scale; the fan-out factor is bounded by ceil(chunk/stride).
    """
    ch, st = _validate_chunk_stride(chunk_tokens, stride_tokens)
    spans = loss_mask_spans(
        turns, trainable_role=trainable_role, conv_col=conv_col, idx_col=idx_col
    )
    j, w_max = _capped_spans(spans, ch, st, conv_col)
    return _fan_out_windows(j, ch, st, conv_col, idx_col, w_max)


def assemble_windows(
    turns: DataFrame,
    chunk_tokens: int = 64,
    stride_tokens: int = 32,
    trainable_role: str = "agent",
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
) -> DataFrame:
    """Materialize the actual SFT training samples from the
    :func:`conversation_windows` manifest: each (conversation,
    window) becomes one rendered document — member pieces joined on
    ``\\n`` in ``turn_idx`` order plus the ``<|end|>`` sentinel — with
    its loss mask as WINDOW-LOCAL token spans. The local base is the
    window's FIRST MEMBER's ``tok_start`` (not ``w_start``: a turn
    straddling the window boundary is excluded, so the first member
    may start after the boundary); the assembled text's whitespace
    tokens tile ``[0, n_tokens - 1)`` exactly by the
    :func:`loss_mask_spans` invariant, with the final token being the
    sentinel.

    Quarantined turns (no containing window) are by construction
    absent here — their explicit ``window_id NULL`` rows live in the
    manifest, which is the overflow-policy surface.

    Output: ``(conv_id, window_id, w_start, n_turns, n_tokens, text,
    trainable_spans array<array<bigint>>)`` — each inner pair is a
    half-open local [s, e) of one trainable turn; empty array when
    the window holds none.

    Plan shape: the spans' single conv Exchange feeds the total, the
    join, the codegen fan-out, and the (conv, window) aggregate —
    the aggregate key extends conv, so the whole operator still runs
    on the one conv-hash partitioning plus the tot side.
    """
    ch, st = _validate_chunk_stride(chunk_tokens, stride_tokens)
    spans = loss_mask_spans(
        turns,
        trainable_role=trainable_role,
        conv_col=conv_col,
        idx_col=idx_col,
        keep_piece=True,
    )
    j, w_max = _capped_spans(spans, ch, st, conv_col)
    w_min = _ceil_div_pos_expr(f"tok_end - {ch}", st)
    fan = j.withColumn(
        "window_id", F.explode(F.when(w_min <= w_max, F.sequence(w_min, w_max)))
    )
    asm = fan.groupBy(conv_col, "window_id").agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col(idx_col).cast("long").alias("turn_idx"),
                    "tok_start",
                    "tok_end",
                    "trainable",
                    "_piece",
                )
            )
        ).alias("_evs")
    )
    base = F.col("_evs")[0]["tok_start"]
    return asm.select(
        conv_col,
        "window_id",
        (F.col("window_id") * F.lit(st)).cast("long").alias("w_start"),
        F.size("_evs").cast("long").alias("n_turns"),
        (
            F.aggregate(
                "_evs",
                F.lit(0).cast("long"),
                lambda a, e: a + e["tok_end"] - e["tok_start"],
            )
            + F.lit(1)
        ).alias("n_tokens"),
        F.concat(
            F.concat_ws(
                "\n", F.transform("_evs", lambda e: e["_piece"])
            ),
            F.lit("\n" + _HDR_OPEN + "end" + _HDR_CLOSE),
        ).alias("text"),
        F.transform(
            F.filter("_evs", lambda e: e["trainable"]),
            lambda e: F.array(e["tok_start"] - base, e["tok_end"] - base),
        ).alias("trainable_spans"),
    )


def duckdb_assemble_windows_sql(
    turns_sql: str,
    chunk_tokens: int = 64,
    stride_tokens: int = 32,
    trainable_role: str = "agent",
    conv_col: str = "conv_id",
) -> str:
    """DuckDB twin of :func:`assemble_windows` (same spans + window
    algebra; ordered ``string_agg`` render; window-local spans via a
    per-(conv, window) MIN window function)."""
    c = conv_col
    ch, st = int(chunk_tokens), int(stride_tokens)
    spans = duckdb_loss_mask_sql(
        turns_sql,
        trainable_role=trainable_role,
        conv_col=conv_col,
        keep_piece=True,
    )
    return f"""
        WITH spans AS ({spans}),
        {_duckdb_capped_lim_cte(ch, st, c)},
        fan AS (
          SELECT *, unnest(generate_series(w_min, w_max)) AS window_id
          FROM lim WHERE w_min <= w_max
        ),
        fb AS (
          SELECT *, MIN(tok_start) OVER (PARTITION BY {c}, window_id)
                   AS base
          FROM fan
        )
        SELECT {c}, CAST(window_id AS BIGINT) AS window_id,
               CAST(window_id * {st} AS BIGINT) AS w_start,
               CAST(COUNT(*) AS BIGINT) AS n_turns,
               CAST(SUM(tok_end - tok_start) + 1 AS BIGINT) AS n_tokens,
               string_agg(_piece, chr(10)
                          ORDER BY turn_idx NULLS FIRST, tok_start, _piece)
                 || chr(10) || '{_HDR_OPEN}end{_HDR_CLOSE}' AS text,
               COALESCE(
                 list(list_value(tok_start - base, tok_end - base)
                      ORDER BY turn_idx NULLS FIRST, tok_start)
                   FILTER (WHERE trainable),
                 []) AS trainable_spans
        FROM fb
        GROUP BY {c}, window_id
    """


def conversation_windows_stream(
    turns_stream: DataFrame,
    chunk_tokens: int = 64,
    stride_tokens: int = 32,
    trainable_role: str = "agent",
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
):
    """Live SFT window assembly — the streaming twin of
    :func:`conversation_windows`: per-conversation token offsets
    CARRY ACROSS micro-batches (the ``pack_sequences_stream`` state
    shape: one ``(next_offset, last_idx)`` pair per open
    conversation), so an append-log ingest assigns every arriving
    turn the same [tok_start, tok_end) span the batch operator gives
    it over the completed conversation, then the same stateless
    integer window algebra fans turns into overlapping windows.

    Two deliberate semantic differences from the batch op, both
    inherent to liveness:

    * NO ``W_last`` trailing cap — the conversation total is unknown
      mid-stream, so trailing-window memberships the batch op would
      cap are emitted; finalization at conversation close applies the
      cap during window assembly (compare with the batch manifest).
    * Ordering contract (the ``pack_sequences_stream`` contract, per
      conversation): each conversation's turns must arrive in
      ``turn_idx`` order across micro-batches (within a batch the
      operator sorts). A turn arriving at-or-below the
      conversation's high-water ``turn_idx`` — or with a NULL
      ``turn_idx``, which cannot be ordered live — is emitted ONCE
      with ``tok_start/tok_end/window_id NULL`` (loud quarantine,
      never a crash or a silently corrupted offset) and does not
      advance the offset. The high-water mark starts at LONG_MIN, so
      any real first index (0, 1, negative preamble turns) is
      accepted.

    Output schema is identical to the batch op's (``turn_idx``
    normalized to BIGINT on both). The piece token count and the
    window algebra are the SAME shared expressions as the batch
    operator (``_piece_token_count_col`` / ``_ceil_div_pos_expr`` /
    ``_fan_out_windows`` — computed BEFORE or AFTER the stateful
    step; Python only does the offset cumsum), so stream and batch
    cannot diverge on tokenization or assignment.

    Scale: state is two longs per conversation, keyed on
    ``xxhash64(conv) % WINDOW_STATE_BUCKETS`` rather than on the
    conversation, so each micro-batch runs one vectorized Python
    invocation per bucket instead of one per LIVE CONVERSATION (the
    cost that dominates when thousands of conversations interleave in
    every batch, the realistic arrival shape). Each bucket carries its
    ``conv -> (offset, high-water)`` map as parallel state arrays, and
    the per-turn cumsum/violation scan is a pandas groupby transform
    (no Python row loop). One shuffle on the bucket per micro-batch;
    the fan-out is pure codegen after the stateful step. State has no
    timeout: it lives for the stream's lifetime, which suits the
    finite append-log runs and the exactly-once harness.
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ch, st = _validate_chunk_stride(chunk_tokens, stride_tokens)
    pieces = (
        turns_stream.select(
            conv_col,
            F.col(idx_col).cast("long").alias(idx_col),
            "role",
            _piece_expr().alias("_piece"),
        )
        .withColumn("_n_piece", _piece_token_count_col().cast("long"))
        .drop("_piece")
    )
    out_schema = (
        f"{conv_col} string, {idx_col} long, role string, "
        "tok_start long, tok_end long"
    )

    def _assign(rows, off_of, hi_of):
        """Vectorized span assignment over a (possibly multi-conv)
        frame: sort by (conv, idx, n_piece, role) — the trailing keys
        make duplicate-idx acceptance deterministic in CONTENT, not
        arrival order; a row quarantines when its idx is NULL,
        duplicates its sorted predecessor, or is at/below the
        conversation's entering high-water mark — otherwise spans are
        the carried offset plus the accepted-row running sum. NULL
        conv_id is a real group (``dropna=False`` everywhere; pandas
        surfaces its key as NaN, normalized back to ``None`` so state
        lookups round-trip), just as a ``groupBy(conv)`` would keep it.
        Returns (out_frame, new_off: dict, new_hi: dict)."""
        rows = rows.sort_values(
            [conv_col, idx_col, "_n_piece", "role"], kind="stable"
        ).reset_index(drop=True)
        idx = rows[idx_col].astype("Int64")
        npi = rows["_n_piece"].astype("int64")
        conv = rows[conv_col]
        hi0 = conv.map(hi_of).fillna(_LONG_MIN).astype("int64")
        off0 = conv.map(off_of).fillna(0).astype("int64")
        prev = idx.groupby(conv, sort=False, dropna=False).shift()
        # sorted per conv => idx >= prev; ok iff not NULL, not a
        # duplicate of the predecessor, and above the high-water mark
        ok = (
            (idx.notna() & (prev.isna() | (idx > prev)) & (idx > hi0))
            .fillna(False)
            .astype(bool)
        )
        contrib = npi.where(ok, 0)
        cum = contrib.groupby(conv, sort=False, dropna=False).cumsum()
        starts = (off0 + cum - contrib).where(ok)
        ends = (off0 + cum).where(ok)
        g_sum = contrib.groupby(conv, sort=False, dropna=False).sum()
        g_hi = idx.where(ok).groupby(conv, sort=False, dropna=False).max()
        new_off = {}
        new_hi = {}
        # g_sum/g_hi share one groupby key order (sort=False); walk
        # them positionally — .get() on a NaN-keyed index is fragile
        for c, s, h in zip(g_sum.index, g_sum.to_numpy(), g_hi.to_numpy()):
            key = None if c != c else c  # NaN group key -> None conv
            new_off[key] = int(off_of.get(key, 0)) + int(s)
            prior = int(hi_of.get(key, _LONG_MIN))
            new_hi[key] = (
                max(int(h), prior) if h is not pd.NA and h == h else prior
            )
        out = pd.DataFrame(
            {
                conv_col: conv.to_numpy(),
                idx_col: idx,
                "role": rows["role"].to_numpy(),
                "tok_start": starts.astype("Int64"),
                "tok_end": ends.astype("Int64"),
            }
        )
        return out, new_off, new_hi

    def fn(key, pdfs, state: GroupState):
        convs, offs, his = state.get if state.exists else ([], [], [])
        off_of = dict(zip(convs, offs))
        hi_of = dict(zip(convs, his))
        frames = [p.drop(columns=["_bkt"]) for p in pdfs if len(p)]
        if frames:
            out, new_off, new_hi = _assign(pd.concat(frames), off_of, hi_of)
            off_of.update(new_off)
            hi_of.update(new_hi)
            yield out
        ks = list(off_of)
        state.update(
            (ks, [int(off_of[k]) for k in ks], [int(hi_of[k]) for k in ks])
        )

    spans = (
        pieces.withColumn(
            "_bkt",
            F.pmod(F.xxhash64(F.col(conv_col)), F.lit(WINDOW_STATE_BUCKETS)),
        )
        .groupBy("_bkt")
        .applyInPandasWithState(
            fn,
            out_schema,
            "convs array<string>, offs array<long>, his array<long>",
            "append",
            GroupStateTimeout.NoTimeout,
        )
    )
    w_max = F.expr(f"tok_start div {st}")  # no W_last cap mid-stream
    return _fan_out_windows(
        spans.withColumn(
            "trainable", F.col("role") == F.lit(trainable_role)
        ),
        ch,
        st,
        conv_col,
        idx_col,
        w_max,
        assignable=F.col("tok_start").isNotNull(),
    )


def duckdb_conversation_windows_sql(
    turns_sql: str,
    chunk_tokens: int = 64,
    stride_tokens: int = 32,
    trainable_role: str = "agent",
    conv_col: str = "conv_id",
    cap_trailing: bool = True,
) -> str:
    """DuckDB twin of :func:`conversation_windows` (same spans, same
    integer window algebra, ``generate_series`` fan-out, quarantine
    rows via the empty-range union). ``cap_trailing=False`` is the
    :func:`conversation_windows_stream` twin — identical except the
    ``W_last`` cap is absent, exactly as documented there."""
    c = conv_col
    ch, st = int(chunk_tokens), int(stride_tokens)
    spans = duckdb_loss_mask_sql(
        turns_sql, trainable_role=trainable_role, conv_col=conv_col
    )
    if cap_trailing:
        lim = _duckdb_capped_lim_cte(ch, st, c)
    else:
        # streaming twin: no W_last cap, so the per-conversation
        # total (and its aggregation + join) is not computed at all
        lim = f"""lim AS (
          SELECT s.*,
                 CASE WHEN s.tok_end - {ch} <= 0 THEN 0
                      ELSE (s.tok_end - {ch} + {st} - 1) // {st} END AS w_min,
                 s.tok_start // {st} AS w_max
          FROM spans s
        )"""
    return f"""
        WITH spans AS ({spans}),
        {lim}
        SELECT {c}, CAST(window_id AS BIGINT) AS window_id,
               CAST(window_id * {st} AS BIGINT) AS w_start,
               CAST(turn_idx AS BIGINT) AS turn_idx,
               role, tok_start, tok_end, trainable
        FROM (
          SELECT *, unnest(generate_series(w_min, w_max)) AS window_id
          FROM lim WHERE w_min <= w_max
        )
        UNION ALL
        SELECT {c}, NULL, NULL, CAST(turn_idx AS BIGINT),
               role, tok_start, tok_end, trainable
        FROM lim WHERE w_min > w_max
    """


def conversation_fingerprints(
    turns: DataFrame,
    conv_col: str = "conv_id",
    text_col: str = "text",
) -> DataFrame:
    """Each conversation as a SET of turn-content fingerprints:
    distinct ``md5(text)`` per conversation, NULL-text turns ignored.
    This is the session-granular analogue of a document's shingle set
    — turn order and timestamps deliberately do NOT participate, so a
    re-logged session (same exchange, new conv_id/timestamps, a turn
    added or dropped) keeps a near-identical fingerprint set.

    Output: (conv_col, tfp) distinct rows — the exploded set
    representation :func:`~..dedup.set_jaccard_join` consumes.
    One partial-agg-backed distinct; pure JVM codegen."""
    return (
        turns.filter(F.col(text_col).isNotNull())
        .select(F.col(conv_col), F.md5(text_col).alias("tfp"))
        .distinct()
    )


def conversation_near_dups(
    turns: DataFrame,
    threshold: float = 0.8,
    conv_col: str = "conv_id",
    text_col: str = "text",
) -> DataFrame:
    """Session-level near-duplicate pairs: conversations whose turn-
    fingerprint sets have Jaccard >= threshold — re-run / re-logged /
    resumed agent sessions that document-level dedup misses because
    every individual turn is "short and common" while the SESSION is
    the duplicated artifact. Exact (AllPairs prefix filtering via
    :func:`~..dedup.set_jaccard_join`), zero false negatives.

    Output: (a, b, jaccard), a < b.

    100 TB notes: canned turns shared by thousands of sessions
    ("session resumed", greetings) have high document frequency and
    fall out of every rarest-first prefix — exactly the tokens that
    would otherwise quadratically explode the candidate join."""
    from .dedup import set_jaccard_join

    return set_jaccard_join(
        conversation_fingerprints(turns, conv_col, text_col),
        id_col=conv_col,
        token_col="tfp",
        threshold=threshold,
        assume_distinct=True,
    )


def conversation_dedup(
    turns: DataFrame,
    threshold: float = 0.8,
    conv_col: str = "conv_id",
    text_col: str = "text",
) -> DataFrame:
    """Canonical conversation per near-dup cluster: the near-dup pair
    set closed transitively (pointer-jumping connected components, the
    dedup-family kernel), each conversation mapped to the smallest
    conv_id in its cluster, singletons to themselves.

    Output: (conv_col, canon) — one row per conversation that has at
    least one non-NULL turn."""
    from .dedup import connected_components

    pairs = conversation_near_dups(turns, threshold, conv_col, text_col)
    comp = connected_components(pairs, a="a", b="b")
    convs = turns.filter(F.col(text_col).isNotNull()).select(conv_col).distinct()
    return convs.join(comp, convs[conv_col] == comp["id"], "left").select(
        conv_col, F.coalesce("cluster_id", conv_col).alias("canon")
    )


def duckdb_conversation_near_dups_sql(
    turns_sql: str,
    threshold: float = 0.8,
    conv_col: str = "conv_id",
    text_col: str = "text",
) -> str:
    """Brute-force DuckDB twin of :func:`conversation_near_dups`:
    ALL pairs sharing >= 1 fingerprint, exact Jaccard, same
    round(J, 6) >= t emission — so the value-hash gate proves the
    prefix filter loses no pair."""
    return f"""
        WITH fp AS (
          SELECT DISTINCT {conv_col} AS cid, md5({text_col}) AS tfp
          FROM ({turns_sql}) WHERE {text_col} IS NOT NULL
        ),
        sz AS (SELECT cid, count(*) AS sz FROM fp GROUP BY cid),
        inter AS (
          SELECT x.cid AS a, y.cid AS b, count(*) AS i
          FROM fp x JOIN fp y ON x.tfp = y.tfp AND x.cid < y.cid
          GROUP BY 1, 2
        )
        SELECT a, b,
               round(i / (sa.sz + sb.sz - i), 6) AS jaccard
        FROM inter
        JOIN sz sa ON sa.cid = a
        JOIN sz sb ON sb.cid = b
        WHERE round(i / (sa.sz + sb.sz - i), 6) >= {threshold}
    """


def duckdb_conversation_dedup_sql(
    turns_sql: str,
    threshold: float = 0.8,
    conv_col: str = "conv_id",
    text_col: str = "text",
) -> str:
    """DuckDB twin of :func:`conversation_dedup`: recursive-CTE
    reachability over the brute-forced edge set (the q138 oracle
    pattern) — proves blocking completeness AND the transitive
    closure."""
    pairs = duckdb_conversation_near_dups_sql(
        turns_sql, threshold, conv_col, text_col
    )
    return f"""
        WITH RECURSIVE e AS (
          SELECT a, b FROM ({pairs})
        ),
        und AS (
          SELECT a AS s, b AS t FROM e
          UNION ALL SELECT b, a FROM e
        ),
        reach (s, t) AS (
          SELECT s, t FROM und
          UNION
          SELECT r.s, u.t FROM reach r JOIN und u ON r.t = u.s
        ),
        lbl AS (
          SELECT s AS cid, least(min(t), s) AS canon
          FROM reach GROUP BY s
        ),
        convs AS (
          SELECT DISTINCT {conv_col} AS cid FROM ({turns_sql})
          WHERE {text_col} IS NOT NULL
        )
        SELECT c.cid AS {conv_col}, coalesce(l.canon, c.cid) AS canon
        FROM convs c LEFT JOIN lbl l ON l.cid = c.cid
    """


def corpus_fingerprint_index(
    corpus_turns: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Distinct turn-fingerprint index of a corpus — build ONCE,
    ``persist()``, and pass to :func:`turn_containment_stream` via
    ``index=`` so the md5 + distinct shuffle doesn't re-run on every
    micro-batch of the stream-static join. Output: (tfp)."""
    return (
        corpus_turns.filter(F.col(text_col).isNotNull())
        .select(F.md5(text_col).alias("tfp"))
        .distinct()
    )


def turn_containment_stream(
    turns_stream: DataFrame,
    corpus_turns: DataFrame | None = None,
    threshold: float = 0.8,
    conv_col: str = "conv_id",
    text_col: str = "text",
    ts_col: str = "ts",
    window: str = "1 minute",
    watermark: str = "30 seconds",
    index: DataFrame | None = None,
    broadcast_index: bool = False,
) -> DataFrame:
    """Ingest-time session-dedup admission gate: for each arriving
    conversation (per event-time window), the fraction of its distinct
    turn fingerprints ALREADY present in the static corpus fingerprint
    index — a re-logged/re-run session scores containment ~1.0 and is
    rejected before it lands, a genuinely new session scores ~0 and is
    admitted. The per-window slice semantics (not whole-conversation)
    are deliberate: admission must not hold back until a session ends.

    Pass EITHER raw ``corpus_turns`` (the index is derived inline —
    convenient, but the md5 + distinct re-evaluates per micro-batch)
    OR a prebuilt, persisted :func:`corpus_fingerprint_index` via
    ``index=`` (the production shape). ``broadcast_index=True`` hints
    the join build side when the index fits executor memory (it is one
    md5 per DISTINCT corpus turn, count-bounded); leave False for an
    index too large to broadcast — the join then shuffles per batch,
    or co-locate via a bucketed index table at real scale.

    Stream side: watermarked turns → md5 fingerprint → stream-static
    LEFT join against the distinct corpus index on tfp → windowed
    per-conversation rollup via collect_set (streaming-legal exact
    distinct; state bounded by fingerprints per open (window, conv)).

    Output: (window_start, conv_col, n_turns, n_known, containment,
    admitted) — admitted when containment < threshold.

    100 TB posture: the corpus-sized side contributes only its
    DISTINCT fingerprint column to the join (one narrow shuffle per
    micro-batch against the persisted index); the stream never joins
    corpus rows, only fingerprints; window state is one bounded set
    per open conversation window."""
    if (corpus_turns is None) == (index is None):
        raise ValueError(
            "pass exactly one of corpus_turns= or index= "
            "(a corpus_fingerprint_index frame)"
        )
    if index is None:
        index = corpus_fingerprint_index(corpus_turns, text_col)
    idx = index.select("tfp").withColumn("_known", F.lit(True))
    if broadcast_index:
        # stateful streaming disables AQE, so without the hint the
        # stream-static join sort-merges BOTH sides every micro-batch —
        # re-shuffling the full index per trigger (guide §3.1). With the
        # hint only the bounded-size index ships once per batch and the
        # stream side never shuffles for the join.
        idx = F.broadcast(idx)
    m = (
        turns_stream.withWatermark(ts_col, watermark)
        .filter(F.col(text_col).isNotNull())
        .select(ts_col, F.col(conv_col), F.md5(text_col).alias("tfp"))
    )
    joined = m.join(idx, "tfp", "left")
    agg = (
        joined.groupBy(F.window(F.col(ts_col), window).alias("w"), conv_col)
        .agg(
            F.size(F.collect_set("tfp")).cast("long").alias("n_turns"),
            F.size(
                F.collect_set(F.when(F.col("_known"), F.col("tfp")))
            ).cast("long").alias("n_known"),
        )
    )
    containment = F.round(F.col("n_known") / F.col("n_turns"), 6)
    return agg.select(
        F.col("w.start").alias("window_start"),
        conv_col,
        "n_turns",
        "n_known",
        containment.alias("containment"),
        (containment < threshold).alias("admitted"),
    )


def duckdb_turn_containment_sql(
    feed_sql: str,
    corpus_sql: str,
    threshold: float = 0.8,
    conv_col: str = "conv_id",
    text_col: str = "text",
    ts_col: str = "ts",
) -> str:
    """DuckDB twin of :func:`turn_containment_stream` under the
    closed-window contract: the caller appends the final-watermark
    predicate. Window = 1-minute epoch truncation (the engine's
    tumbling window)."""
    return f"""
        WITH idx AS (
          SELECT DISTINCT md5({text_col}) AS tfp FROM ({corpus_sql})
          WHERE {text_col} IS NOT NULL
        ),
        agg AS (
          SELECT make_timestamp((epoch_us({ts_col}) // 60000000)
                   * 60000000) AS window_start,
                 {conv_col},
                 count(DISTINCT md5({text_col})) AS n_turns,
                 count(DISTINCT CASE WHEN md5({text_col}) IN
                   (SELECT tfp FROM idx) THEN md5({text_col}) END)
                   AS n_known
          FROM ({feed_sql}) WHERE {text_col} IS NOT NULL
          GROUP BY 1, 2
        )
        SELECT window_start, {conv_col}, n_turns, n_known,
               round(n_known / n_turns, 6) AS containment,
               round(n_known / n_turns, 6) < {threshold} AS admitted
        FROM agg
    """
