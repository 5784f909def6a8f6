"""Each correctness check passes on a correct output and fails on a
corrupted one: a dropped row, a batch committed twice, a changed token."""

import pandas as pd
import pytest

import checks
import inputs
from common import BENCH_ROOT_KEY


@pytest.fixture(scope="module")
def turns():
    from auto_data_tokenize_spark import datagen

    return datagen.gen_transcripts(0.0001, seed=5)  # 200 turns


@pytest.fixture(scope="module")
def golden(turns):
    from auto_data_tokenize_spark import datagen

    return datagen.golden_tokenized(turns, BENCH_ROOT_KEY)


@pytest.fixture(scope="module")
def output(golden):
    """A correct tokenize_and_order output: the golden's rows with the
    tokenized text in ``text``, in (conv_id, turn_idx) order."""
    return golden.rename(columns={"text_tok": "text"})


def _tokenized_row(df, col):
    return df.index[df[col].str.contains(r"\[TOK:", regex=True)][0]


def _change_token(df, col):
    out = df.copy()
    i = _tokenized_row(out, col)
    t = out.at[i, col]
    k = t.index("[TOK:") + t[t.index("[TOK:") + 5:].index(":") + 6
    out.at[i, col] = t[:k] + ("B" if t[k] != "B" else "C") + t[k + 1:]
    return out


def test_rows_equal_passes_on_the_golden(output, golden):
    assert checks.rows_equal(output, golden, "text") == []


def test_rows_equal_fails_on_a_dropped_row(output, golden):
    assert checks.rows_equal(output.drop(output.index[7]), golden, "text")


def test_rows_equal_fails_on_a_batch_committed_twice(output, golden):
    twice = pd.concat([output, output.iloc[10:20]], ignore_index=True)
    errs = checks.rows_equal(twice, golden, "text")
    assert any("more than once" in e for e in errs)


def test_rows_equal_fails_on_a_changed_token(output, golden):
    assert checks.rows_equal(_change_token(output, "text"), golden, "text")


def test_ordered(output):
    assert checks.ordered(output) == []
    swapped = output.iloc[[1, 0] + list(range(2, len(output)))]
    assert checks.ordered(swapped)


def test_roundtrip(output, turns):
    assert checks.roundtrip(output, turns, "text", BENCH_ROOT_KEY) == []
    assert checks.roundtrip(_change_token(output, "text"), turns, "text", BENCH_ROOT_KEY)
    assert checks.roundtrip(output.drop(output.index[3]), turns, "text", BENCH_ROOT_KEY)


def test_report_counts_against_the_recomputed_sample(turns):
    want = checks.sample_counts(turns, ["text", "role"], 50)
    assert want and all(col == "$.text" for col, _ in want)
    report = [{"column_report": [{"column_name": c, "info_types": [{"info_type": it, "count": n}]}
                                 for (c, it), n in want.items()]}]
    assert checks.counts_equal(checks.report_counts(report), want) == []
    (k, n), = list(want.items())[:1]
    assert checks.counts_equal({**want, k: n + 1}, want)
    assert checks.counts_equal({x: v for x, v in want.items() if x != k}, want)


def test_files_committed():
    landed = ["a", "b", "c"]
    assert checks.files_committed(landed, {"a": 0, "b": 0, "c": 1}, {0, 1}) == []
    assert checks.files_committed(landed, {"a": 0, "b": 0}, {0, 1})  # never read
    assert checks.files_committed(landed, {"a": 0, "b": 0, "c": 1}, {0})  # batch 1 not committed


@pytest.fixture(scope="module")
def feed():
    from auto_data_tokenize_spark import datagen

    return inputs.build_scope_feed(datagen.gen_transcripts(0.0005, seed=5))  # 1000 turns


@pytest.fixture(scope="module")
def twin(feed):
    return inputs.scope_monitor_twin(feed)


def test_monitor_passes_on_the_twin(feed, twin):
    assert len(twin) > 0
    assert checks.monitor_equal(twin, twin) == []
    assert checks.breaches_attributed(twin, feed) == []


def test_monitor_fails_on_a_dropped_row(twin):
    assert checks.monitor_equal(twin.drop(twin.index[0]), twin)


def test_monitor_fails_on_a_batch_committed_twice(twin):
    assert checks.monitor_equal(pd.concat([twin, twin.iloc[:5]]), twin)


def test_monitor_fails_on_a_changed_count(twin):
    bad = twin.copy()
    bad.loc[bad.index[0], "n_breached"] += 1
    assert checks.monitor_equal(bad, twin)


def test_breaches_only_where_the_fault_was_injected(feed, twin):
    clean = inputs.scope_monitor_twin(feed[feed["fault"] == ""])
    assert clean["n_breached"].sum() == 0
    shadow_only = feed[feed["fault"] != "retry"]
    t = inputs.scope_monitor_twin(shadow_only)
    assert t.loc[t["contract"] == "consistency", "n_breached"].sum() == 0
    assert t.loc[t["contract"] == "isolation", "n_breached"].sum() > 0
    # a consistency breach moved to a window with no retried token is caught
    bad = twin.copy()
    quiet = set(zip(feed.loc[feed["fault"] == "retry", "ts"].dt.floor("min"), feed.loc[feed["fault"] == "retry", "info_type"]))
    i = next(i for i, r in bad.iterrows()
             if r["contract"] == "consistency" and (r["window_start"], r["info_type"]) not in quiet)
    bad.at[i, "n_breached"] = 1
    assert checks.breaches_attributed(bad, feed)
