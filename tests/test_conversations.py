"""Conversation-structure audit + chat-template rendering.

Hand-built conversations pin every audit rule individually, a DuckDB
cross-check pins the SQL twins on the same rows, and a real-data test
checks the rendered text reassembles every turn in (conv_id, turn_idx)
order.
"""

import duckdb
import pandas as pd
import pytest

from pyspark.sql import functions as F

from auto_data_tokenize_spark.operators.conversations import (
    conversation_audit,
    duckdb_conversation_audit_sql,
    duckdb_loss_mask_sql,
    duckdb_render_chat_sql,
    loss_mask_spans,
    render_chat,
)

_COLS = ["conv_id", "turn_idx", "role", "text", "tool"]


def _mk(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=_COLS).assign(
            turn_idx=lambda d: d.turn_idx.astype("int32")
        )
    )


@pytest.fixture(scope="module")
def handmade(spark):
    rows = [
        # c_ok: customer opens, agent replies, tool call -> result
        ("c_ok", 1, "customer", "hi there.", None),
        ("c_ok", 2, "agent", "looking that up.", "crm_lookup"),
        ("c_ok", 3, "tool", "record found.", "crm_lookup"),
        ("c_ok", 4, "agent", "all set.", None),
        # c_agent_first: opens with agent -> invalid
        ("c_agent_first", 1, "agent", "hello?", None),
        ("c_agent_first", 2, "customer", "hi.", None),
        ("c_agent_first", 3, "agent", "ok.", None),
        # c_orphan_tool: tool result with no preceding call
        ("c_orphan_tool", 1, "customer", "help.", None),
        ("c_orphan_tool", 2, "tool", "record found.", "crm_lookup"),
        ("c_orphan_tool", 3, "agent", "done.", None),
        # c_run: 4 consecutive agent turns (> max_role_run=3)
        ("c_run", 1, "customer", "hi.", None),
        ("c_run", 2, "agent", "a.", None),
        ("c_run", 3, "agent", "b.", None),
        ("c_run", 4, "agent", "c.", None),
        ("c_run", 5, "agent", "d.", None),
        # c_no_agent: nobody ever replies
        ("c_no_agent", 1, "customer", "anyone?", None),
        ("c_no_agent", 2, "customer", "hello?", None),
    ]
    return _mk(spark, rows)


def test_audit_rules(handmade):
    out = {
        r["conv_id"]: r.asDict()
        for r in conversation_audit(handmade, max_role_run=3).collect()
    }
    assert out["c_ok"]["structurally_valid"]
    assert out["c_ok"]["orphan_tool_results"] == 0
    assert out["c_ok"]["n_tool_results"] == 1
    assert not out["c_agent_first"]["structurally_valid"]
    assert out["c_agent_first"]["first_role"] == "agent"
    assert not out["c_orphan_tool"]["structurally_valid"]
    assert out["c_orphan_tool"]["orphan_tool_results"] == 1
    assert not out["c_run"]["structurally_valid"]
    assert out["c_run"]["longest_role_run"] == 4
    assert not out["c_no_agent"]["structurally_valid"]
    assert out["c_no_agent"]["n_agent"] == 0


def test_audit_max_role_run_validated(handmade):
    with pytest.raises(ValueError):
        conversation_audit(handmade, max_role_run=0)


def test_render_template_shape(handmade):
    row = (
        render_chat(handmade)
        .where(F.col("conv_id") == "c_ok")
        .collect()[0]
    )
    assert row["text"] == (
        "<|customer|>hi there.\n"
        "<|agent:crm_lookup|>looking that up.\n"
        "<|tool:crm_lookup|>record found.\n"
        "<|agent|>all set.\n"
        "<|end|>"
    )
    assert row["n_turns"] == 4
    # whitespace tokens of the rendered text
    assert row["n_tokens"] == len(row["text"].split())


def _duck_twin(handmade, sql_fn, **kw):
    pdf = handmade.toPandas()
    con = duckdb.connect()
    con.register("turns", pdf)
    return con.sql(sql_fn("SELECT * FROM turns", **kw)).df()


def test_audit_matches_duckdb_twin(handmade):
    spark_df = (
        conversation_audit(handmade, max_role_run=3)
        .orderBy("conv_id")
        .toPandas()
    )
    duck = _duck_twin(
        handmade, duckdb_conversation_audit_sql, max_role_run=3
    ).sort_values("conv_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(
        spark_df, duck[spark_df.columns], check_dtype=False
    )


def test_render_matches_duckdb_twin(handmade):
    spark_df = render_chat(handmade).orderBy("conv_id").toPandas()
    duck = (
        _duck_twin(handmade, duckdb_render_chat_sql)
        .sort_values("conv_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        spark_df, duck[spark_df.columns], check_dtype=False
    )


def test_render_covers_every_turn_real_data(transcripts_small):
    rendered = render_chat(transcripts_small)
    n_turns = rendered.agg(F.sum("n_turns")).collect()[0][0]
    assert n_turns == transcripts_small.count()
    # each conversation renders its turns in turn_idx order
    one = (
        transcripts_small.groupBy("conv_id")
        .count()
        .orderBy(F.desc("count"), "conv_id")
        .limit(1)
        .collect()[0]["conv_id"]
    )
    turns = (
        transcripts_small.where(F.col("conv_id") == one)
        .orderBy("turn_idx")
        .collect()
    )
    text = rendered.where(F.col("conv_id") == one).collect()[0]["text"]
    pos = -1
    for t in turns:
        nxt = text.find(t["text"], pos + 1)
        assert nxt > pos, f"turn {t['turn_idx']} out of order"
        pos = nxt
    assert text.endswith("<|end|>")


def test_audit_single_exchange_plan(transcripts_small):
    """The audit is ONE hash partition on conv_id end to end: the
    role-run window and both groupBys reuse the conv_id Exchange."""
    plan = conversation_audit(transcripts_small)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan


# ---------------------------------------------------------------------------
# loss-mask spans
# ---------------------------------------------------------------------------


def test_loss_mask_spans_by_hand(handmade):
    # c_ok piece token counts:
    #   "<|customer|>hi there."            -> 2
    #   "<|agent:crm_lookup|>looking that up." -> 3
    #   "<|tool:crm_lookup|>record found." -> 2
    #   "<|agent|>all set."                -> 2
    out = (
        loss_mask_spans(handmade)
        .where(F.col("conv_id") == "c_ok")
        .orderBy("turn_idx")
        .collect()
    )
    spans = [(r.tok_start, r.tok_end, r.trainable) for r in out]
    assert spans == [
        (0, 2, False),
        (2, 5, True),
        (5, 7, False),
        (7, 9, True),
    ]


def test_loss_mask_spans_partition_render_exactly(transcripts_small):
    """The load-bearing invariant: per-conversation piece token
    counts sum to render_chat's document count minus the one
    <|end|> token — spans tile the rendered token stream exactly."""
    spans = loss_mask_spans(transcripts_small).groupBy("conv_id").agg(
        F.sum("n_piece_tokens").alias("sum_pieces"),
        F.min("tok_start").alias("first_start"),
    )
    rendered = render_chat(transcripts_small).select("conv_id", "n_tokens")
    bad = (
        spans.join(rendered, "conv_id")
        .where(
            (F.col("sum_pieces") + 1 != F.col("n_tokens"))
            | (F.col("first_start") != 0)
        )
        .count()
    )
    assert bad == 0


def test_loss_mask_matches_duckdb_twin(handmade):
    spark_df = (
        loss_mask_spans(handmade)
        .orderBy("conv_id", "turn_idx")
        .toPandas()
    )
    duck = (
        _duck_twin(handmade, duckdb_loss_mask_sql)
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        spark_df, duck[spark_df.columns], check_dtype=False
    )


def test_loss_mask_single_exchange_python_free(transcripts_small):
    plan = (
        loss_mask_spans(transcripts_small)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Python" not in plan


def test_loss_mask_trailing_nonspace_whitespace_exact(spark):
    """trim() strips only 0x20 — turn text ending in \\n or \\t must
    not count a phantom trailing token and shift every later turn's
    span (regression: split-after-trim counted 2 tokens for
    '<|customer|>hello\\n'; counts now use non-whitespace RUNS)."""
    rows = [
        ("c_ws", 1, "customer", "hello\n", None),
        ("c_ws", 2, "agent", "world", None),
        ("c_ws", 3, "customer", "tabbed\t", None),
        ("c_ws", 4, "agent", "  ", None),  # whitespace-only text
    ]
    df = _mk(spark, rows)
    out = loss_mask_spans(df).orderBy("turn_idx").collect()
    spans = [(r.n_piece_tokens, r.tok_start, r.tok_end) for r in out]
    assert spans == [(1, 0, 1), (1, 1, 2), (1, 2, 3), (1, 3, 4)]
    # pieces + the <|end|> token tile the rendered document exactly
    n_tokens = render_chat(df).collect()[0]["n_tokens"]
    assert sum(r.n_piece_tokens for r in out) + 1 == n_tokens
    duck = (
        _duck_twin(df, duckdb_loss_mask_sql)
        .sort_values("turn_idx")
        .reset_index(drop=True)
    )
    assert list(duck["n_piece_tokens"]) == [1, 1, 1, 1]
    assert list(duck["tok_end"]) == [1, 2, 3, 4]


def test_audit_null_roles_are_not_a_three_valued_escape(spark):
    """NULL roles must not NULL out the verdict or skip the orphan
    sum (regression: plain =/!= let a tool result after a role-less
    turn escape the orphan count, and a NULL first_role made
    structurally_valid NULL so 'find invalid' filters dropped exactly
    the malformed conversations the audit exists to flag)."""
    rows = [
        ("c_null", 1, None, "hi", "search"),  # role-less turn w/ tool set
        ("c_null", 2, "tool", "result", "search"),
        ("c_null", 3, "agent", "done", None),
    ]
    df = _mk(spark, rows)
    out = conversation_audit(df).collect()[0]
    assert out["orphan_tool_results"] == 1
    assert out["first_role"] is None
    assert out["structurally_valid"] is False  # False, not None
    duck = _duck_twin(df, duckdb_conversation_audit_sql)
    assert int(duck["orphan_tool_results"][0]) == 1
    assert not bool(duck["structurally_valid"][0])
    assert duck["structurally_valid"].notna().all()


def test_conversation_windows_algebra(spark):
    """Pin the turn-aligned window algebra on a 5×4-token
    conversation at chunk=8 stride=4: memberships, the W_last
    trailing cap, and per-window budget containment."""
    from auto_data_tokenize_spark.operators.conversations import (
        conversation_windows,
        duckdb_conversation_windows_sql,
    )

    # the template header glues to the first word, so k words => k
    # piece tokens; 4-word turns => spans advance by exactly 4
    rows = [("w1", i, "agent", "t1 t2 t3 t4", None) for i in range(1, 6)]
    df = _mk(spark, rows)
    out = conversation_windows(df, chunk_tokens=8, stride_tokens=4).toPandas()
    # spans are [0,4),[4,8),[8,12),[12,16),[16,20); W_last = 3
    got = {
        t: sorted(g.window_id.astype(int))
        for t, g in out.dropna(subset=["window_id"]).groupby("turn_idx")
    }
    assert got == {1: [0], 2: [0, 1], 3: [1, 2], 4: [2, 3], 5: [3]}
    assert out.window_id.notna().all()  # nothing quarantined here
    # every member turn fits its window's budget
    ok = out[
        (out.tok_start >= out.w_start) & (out.tok_end <= out.w_start + 8)
    ]
    assert len(ok) == len(out)
    # DuckDB twin agrees row-for-row
    duck = _duck_twin(
        df, duckdb_conversation_windows_sql, chunk_tokens=8, stride_tokens=4
    )
    key = ["conv_id", "window_id", "turn_idx"]
    a = out.sort_values(key, na_position="first").reset_index(drop=True)
    b = (
        duck[out.columns]
        .sort_values(key, na_position="first")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(a, b, check_dtype=False)


def test_conversation_windows_quarantine(spark):
    """Over-chunk turns and straddling turns emit exactly one
    window_id NULL row (explicit overflow, never silent loss)."""
    from auto_data_tokenize_spark.operators.conversations import (
        conversation_windows,
        duckdb_conversation_windows_sql,
    )

    rows = [
        # q1: 10-token turn > chunk 8 -> quarantined
        ("q1", 1, "agent", "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10", None),
        # s1: 6-token then 7-token turn: [6,13) has no stride multiple
        # in [5,6] -> straddle-quarantined though shorter than chunk
        ("s1", 1, "agent", "a1 a2 a3 a4 a5 a6", None),
        ("s1", 2, "agent", "b1 b2 b3 b4 b5 b6 b7", None),
    ]
    df = _mk(spark, rows)
    out = conversation_windows(df, chunk_tokens=8, stride_tokens=4).toPandas()
    quar = out[out.window_id.isna()]
    assert set(zip(quar.conv_id, quar.turn_idx)) == {("q1", 1), ("s1", 2)}
    assert len(quar) == 2  # exactly once each
    s1_t1 = out[(out.conv_id == "s1") & (out.turn_idx == 1)]
    assert sorted(s1_t1.window_id.astype(int)) == [0]
    duck = _duck_twin(
        df, duckdb_conversation_windows_sql, chunk_tokens=8, stride_tokens=4
    )
    assert duck.window_id.isna().sum() == 2
    with pytest.raises(ValueError, match="stride_tokens"):
        conversation_windows(df, chunk_tokens=8, stride_tokens=9)
    with pytest.raises(ValueError, match="chunk_tokens"):
        conversation_windows(df, chunk_tokens=0, stride_tokens=1)


def test_conversation_windows_stream_carry_and_quarantine(spark, tmp_path):
    """Cross-batch offset carry: a conversation split across
    micro-batches gets the same spans the batch operator assigns;
    an out-of-order turn (at/below the conversation's high-water
    turn_idx) is quarantined with NULL spans and does not corrupt
    the offset."""
    import os
    import time

    from auto_data_tokenize_spark.operators.conversations import (
        conversation_windows_stream,
    )

    f1 = pd.DataFrame(
        [
            ("a", 1, "agent", "a1 a2 a3", None),
            ("a", 2, "customer", "b1 b2", None),
            ("b", 2, "agent", "x1 x2 x3 x4", None),
            # negative preamble index is a legitimate first turn
            ("n", -1, "agent", "sys", None),
            # NULL conv_id is a real (if degenerate) group — offsets
            # carry across batches under it
            (None, 1, "agent", "n1 n2", None),
        ],
        columns=_COLS,
    )
    f2 = pd.DataFrame(
        [
            ("a", 3, "agent", "c1 c2 c3 c4 c5", None),
            ("b", 1, "agent", "late", None),  # violates turn order
            ("n", 0, "customer", "hi there", None),
            # NULL turn_idx cannot be ordered live -> quarantined
            ("n", None, "agent", "lost", None),
            (None, 2, "customer", "n3", None),
            # same-batch duplicate turn_idx with DIFFERENT payloads:
            # the (n_piece, role) content tie-break accepts the same
            # row whatever the arrival order (shorter piece first)
            ("d", 1, "agent", "t1 t2 t3", None),
            ("d", 1, "agent", "t1 t2", None),
        ],
        columns=_COLS,
    )
    staged = str(tmp_path / "in")
    os.makedirs(staged)
    t0 = time.time() - 50
    for k, pdf in enumerate([f1, f2]):
        pdf = pdf.assign(
            turn_idx=pdf.turn_idx.astype("Int32"),
            tool=pdf.tool.astype("string"),  # all-None infers INT32 otherwise
        )
        p = f"{staged}/p{k}.parquet"
        pdf.to_parquet(p)
        os.utime(p, (t0 + k, t0 + k))
    st = (
        spark.readStream.schema(
            "conv_id string, turn_idx int, role string, text string, "
            "tool string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(staged)
    )
    wins = conversation_windows_stream(st, chunk_tokens=8, stride_tokens=4)
    q = (
        wins.writeStream.format("memory")
        .queryName("cw_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_cw_stream"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql("select * from cw_stream").toPandas()
    # conv a spans: [0,3),[3,5),[5,10) — turn 3 crossed the batch
    spans = {
        int(t): (int(g.tok_start.iloc[0]), int(g.tok_end.iloc[0]))
        for t, g in out[out.conv_id == "a"].groupby("turn_idx")
    }
    assert spans == {1: (0, 3), 2: (3, 5), 3: (5, 10)}
    # turn 3 of conv a: [5,10) fits w=... uncapped w_max = 5//4 = 1;
    # w_min = ceil((10-8)/4) = 1 -> exactly window 1
    a3 = out[(out.conv_id == "a") & (out.turn_idx == 3)]
    assert sorted(a3.window_id.astype(int)) == [1]
    # conv b: turn 2 arrived first and owns [0,4); the late turn 1 is
    # quarantined (NULL spans AND NULL window) exactly once
    b = out[out.conv_id == "b"].set_index("turn_idx")
    assert (int(b.loc[2, "tok_start"]), int(b.loc[2, "tok_end"])) == (0, 4)
    late = out[(out.conv_id == "b") & (out.turn_idx == 1)]
    assert len(late) == 1
    assert late.tok_start.isna().all() and late.window_id.isna().all()
    # negative first index accepted (LONG_MIN high-water sentinel);
    # the NULL-idx turn quarantines instead of crashing the query
    nrows = out[out.conv_id == "n"]
    nspans = {
        int(t): (int(g.tok_start.iloc[0]), int(g.tok_end.iloc[0]))
        for t, g in nrows.dropna(subset=["turn_idx"]).groupby("turn_idx")
    }
    assert nspans == {-1: (0, 1), 0: (1, 3)}
    lost = nrows[nrows.turn_idx.isna()]
    assert len(lost) == 1
    assert lost.tok_start.isna().all() and lost.window_id.isna().all()
    # NULL conv_id: real spans, offsets carried across batches
    nc = out[out.conv_id.isna()].set_index("turn_idx")
    assert (int(nc.loc[1, "tok_start"]), int(nc.loc[1, "tok_end"])) == (0, 2)
    assert (int(nc.loc[2, "tok_start"]), int(nc.loc[2, "tok_end"])) == (2, 3)
    # duplicate turn_idx, different payloads: the 2-token piece wins
    # the (n_piece, role) tie-break; its twin quarantines
    d = out[out.conv_id == "d"]
    acc = d[d.tok_start.notna()]
    assert len(acc) == 1 and len(d) == 2
    assert (int(acc.tok_start.iloc[0]), int(acc.tok_end.iloc[0])) == (0, 2)
    dummy = spark.readStream.schema(
        "conv_id string, turn_idx int, role string, text string, tool string"
    ).parquet(staged)
    with pytest.raises(ValueError, match="stride_tokens"):
        conversation_windows_stream(dummy, chunk_tokens=4, stride_tokens=5)


def test_assemble_windows_samples(spark):
    """The materialized SFT sample: window text is the member pieces
    in turn order + <|end|>, whitespace tokens tile [0, n_tokens-1),
    and trainable spans are window-local (base = FIRST MEMBER's
    tok_start, not w_start)."""
    from auto_data_tokenize_spark.operators.conversations import (
        assemble_windows,
        duckdb_assemble_windows_sql,
    )

    rows = [  # 4-token turns, spans [0,4),[4,8),[8,12),[12,16),[16,20)
        ("w1", i, role, "t1 t2 t3 t4", None)
        for i, role in enumerate(
            ["customer", "agent", "customer", "agent", "agent"], start=1
        )
    ]
    df = _mk(spark, rows)
    out = {
        int(r["window_id"]): r.asDict()
        for r in assemble_windows(df, chunk_tokens=8, stride_tokens=4).collect()
    }
    # windows 0..3 (W_last = 3); window 1 holds turns 2,3 (spans 4..12)
    assert sorted(out) == [0, 1, 2, 3]
    w1 = out[1]
    assert w1["n_turns"] == 2 and w1["n_tokens"] == 9
    assert w1["text"] == (
        "<|agent|>t1 t2 t3 t4\n<|customer|>t1 t2 t3 t4\n<|end|>"
    )
    assert len(w1["text"].split()) == w1["n_tokens"]
    # local base is turn 2's tok_start (4): agent turn -> local [0,4)
    assert [list(s) for s in w1["trainable_spans"]] == [[0, 4]]
    # window 2 holds turns 3,4 (customer, agent) -> agent local [4,8)
    assert [list(s) for s in out[2]["trainable_spans"]] == [[4, 8]]
    # window 0 holds turns 1,2 -> agent turn 2 local [4,8)
    assert [list(s) for s in out[0]["trainable_spans"]] == [[4, 8]]
    # DuckDB twin agrees row-for-row
    duck = _duck_twin(
        df, duckdb_assemble_windows_sql, chunk_tokens=8, stride_tokens=4
    )
    got = (
        assemble_windows(df, chunk_tokens=8, stride_tokens=4)
        .toPandas()
        .sort_values("window_id")
        .reset_index(drop=True)
    )
    duck = duck[got.columns].sort_values("window_id").reset_index(drop=True)
    def canon(v):
        return [[int(x) for x in p] for p in (list(v) if v is not None and len(v) else [])]
    got["trainable_spans"] = got.trainable_spans.map(canon)
    duck["trainable_spans"] = duck.trainable_spans.map(canon)
    pd.testing.assert_frame_equal(got, duck, check_dtype=False)


def test_assemble_windows_null_idx_matches_twin(spark):
    """Spark sorts ascending NULLS FIRST while DuckDB defaults to
    NULLS LAST — the twins pin turn_idx ordering to NULLS FIRST
    explicitly, so a NULL turn_idx lands in the same position (and
    the same windows) on both engines."""
    from auto_data_tokenize_spark.operators.conversations import (
        assemble_windows,
        duckdb_assemble_windows_sql,
    )

    rows = [
        ("c1", None, "agent", "s1 s2 s3", None),  # NULL idx: FIRST
        ("c1", 1, "customer", "t1 t2 t3 t4", None),
        ("c1", 2, "agent", "u1 u2 u3 u4", None),
    ]
    pdf = pd.DataFrame(rows, columns=_COLS).assign(
        turn_idx=lambda d: d.turn_idx.astype("Int32"),
        tool=lambda d: d.tool.astype("string"),
    )
    df = spark.createDataFrame(pdf)
    got = (
        assemble_windows(df, chunk_tokens=8, stride_tokens=4)
        .toPandas()
        .sort_values("window_id")
        .reset_index(drop=True)
    )
    # NULL-idx turn renders first: window 0's text opens with it
    assert got.text.iloc[0].startswith("<|agent|>s1 s2 s3")
    duck = _duck_twin(
        df, duckdb_assemble_windows_sql, chunk_tokens=8, stride_tokens=4
    )
    duck = duck[got.columns].sort_values("window_id").reset_index(drop=True)

    def canon(v):
        return [
            [int(x) for x in p]
            for p in (list(v) if v is not None and len(v) else [])
        ]

    got["trainable_spans"] = got.trainable_spans.map(canon)
    duck["trainable_spans"] = duck.trainable_spans.map(canon)
    pd.testing.assert_frame_equal(got, duck, check_dtype=False)


def test_assemble_windows_no_trainable_is_empty_list(spark):
    rows = [("c1", 1, "customer", "a b", None), ("c1", 2, "tool", "c", "t")]
    from auto_data_tokenize_spark.operators.conversations import (
        assemble_windows,
    )

    [r] = assemble_windows(_mk(spark, rows), 8, 4).collect()
    assert list(r["trainable_spans"]) == []
    assert r["n_tokens"] == 4  # 2 + 1 + <|end|>
