"""Correctness checks run after the timed region. Each returns a list of
error strings (empty = pass) and compares against computations made
apart from Spark: the row-at-a-time golden, the pure-Python detector,
the DuckDB twin, or a required property of the output."""

from __future__ import annotations

import hashlib

import pandas as pd

KEYS = ["conv_id", "turn_idx"]
MAX_ERRORS = 5


def _ts_us(s: pd.Series) -> pd.Series:
    s = pd.to_datetime(s)
    if getattr(s.dt, "tz", None) is not None:
        s = s.dt.tz_convert("UTC").dt.tz_localize(None)
    return s.astype("datetime64[us]").astype("int64")


def _norm(df: pd.DataFrame, cols: list[str]) -> pd.DataFrame:
    out = pd.DataFrame(index=df.index)
    for c in cols:
        if c == "ts":
            out[c] = _ts_us(df[c])
        elif c == "turn_idx":
            out[c] = df[c].astype("int64")
        else:
            out[c] = df[c].astype(object).where(df[c].notna(), None)
    return out


def exactly_once(out: pd.DataFrame, keys=KEYS) -> list[str]:
    dup = out.duplicated(keys, keep=False)
    if dup.any():
        return [f"{int(dup.sum())} rows share a key {keys} (committed more than once)"]
    return []


def rows_equal(out: pd.DataFrame, golden: pd.DataFrame, text_col: str) -> list[str]:
    """Every output row equals the golden row with the same key, and the
    key sets are equal. ``text_col`` is the output's tokenized column;
    the golden's is ``text_tok``."""
    errors = exactly_once(out)
    cols = [c for c in golden.columns if c != "text_tok"]
    g = _norm(golden, cols)
    g["text_tok"] = golden["text_tok"].astype(object)
    o = _norm(out, cols)
    o["text_tok"] = out[text_col].astype(object)
    m = g.merge(o, on=KEYS, how="outer", suffixes=("_g", "_o"), indicator=True)
    missing = m[m["_merge"] == "left_only"]
    extra = m[m["_merge"] == "right_only"]
    if len(missing):
        errors.append(f"{len(missing)} golden rows missing, e.g. {missing[KEYS].head(3).values.tolist()}")
    if len(extra):
        errors.append(f"{len(extra)} rows not in the golden, e.g. {extra[KEYS].head(3).values.tolist()}")
    both = m[m["_merge"] == "both"]
    for c in [c for c in g.columns if c not in KEYS]:
        a, b = both[f"{c}_g"], both[f"{c}_o"]
        diff = ~((a == b) | (a.isna() & b.isna()))
        if diff.any():
            ex = both.loc[diff, KEYS].head(3).values.tolist()
            errors.append(f"column {c}: {int(diff.sum())} rows differ from the golden, e.g. {ex}")
    return errors[:MAX_ERRORS]


def ordered(out: pd.DataFrame) -> list[str]:
    """Rows, in file order, are sorted by (conv_id, turn_idx)."""
    k = list(zip(out["conv_id"], out["turn_idx"]))
    bad = sum(1 for a, b in zip(k, k[1:]) if a > b)
    return [f"{bad} adjacent rows out of (conv_id, turn_idx) order"] if bad else []


def roundtrip(out: pd.DataFrame, inputs: pd.DataFrame, text_col: str, root_key: bytes) -> list[str]:
    """Tokenizer.detokenize_text on each output row gives back the input text."""
    from cryptography.exceptions import InvalidTag

    from auto_data_tokenize_spark.functions.tokenizer import Tokenizer

    tok = Tokenizer(root_key)

    def back(c, o):
        try:
            return tok.detokenize_text(c, o)
        except (InvalidTag, ValueError):  # a token that does not decrypt
            return None

    m = inputs[KEYS + ["text"]].rename(columns={"text": "_input"}).merge(
        out[KEYS + [text_col]].rename(columns={text_col: "_output"}), on=KEYS
    )
    if len(m) != len(inputs):
        return [f"round trip: {len(inputs) - len(m)} input rows have no output row"]
    bad = [
        (c, i)
        for c, i, t, o in zip(m["conv_id"], m["turn_idx"], m["_input"], m["_output"])
        if back(c, o) != t
    ]
    return [f"round trip: {len(bad)} rows do not detokenize to their input, e.g. {bad[:3]}"] if bad else []


def sample_counts(
    table: pd.DataFrame, columns: list[str], n: int, seed: int = 42, prefix: str = "$"
) -> dict[tuple[str, str], int]:
    """Per-(column, infoType) finding counts over the inspect sample,
    recomputed in pandas: per column, the ``n`` non-blank values with the
    smallest md5(seed, column, value) rank (then value), detected with
    ``detectors.find_spans``."""
    from auto_data_tokenize_spark.functions.detectors import find_spans

    counts: dict[tuple[str, str], int] = {}
    for c in columns:
        name = f"{prefix}.{c}"
        vals = [v for v in table[c].dropna().astype(str) if v.strip() != ""]
        ranked = sorted(
            (hashlib.md5(f"{seed}\x1f{name}\x1f{v}".encode("utf-8")).hexdigest(), v) for v in vals
        )[:n]
        for _, v in ranked:
            for sp in find_spans(v):
                counts[(name, sp.info_type)] = counts.get((name, sp.info_type), 0) + 1
    return counts


def report_counts(report_rows) -> dict[tuple[str, str], int]:
    """(column, infoType) → count from a collected inspection report."""
    out = {}
    for row in report_rows:
        for col in row["column_report"]:
            for it in col["info_types"]:
                out[(col["column_name"], it["info_type"])] = int(it["count"])
    return out


def counts_equal(got: dict, want: dict) -> list[str]:
    if got == want:
        return []
    keys = sorted(set(got) | set(want))
    diff = [(k, got.get(k), want.get(k)) for k in keys if got.get(k) != want.get(k)]
    return [f"report counts differ from the recomputed sample (got, want): {diff[:3]}"]


def files_committed(landed: list[str], file_batch: dict[str, int], committed: set[int]) -> list[str]:
    """Every landed file was read by a micro-batch whose commit is published."""
    unread = [f for f in landed if f not in file_batch]
    uncommitted = [f for f in landed if f in file_batch and file_batch[f] not in committed]
    errors = []
    if unread:
        errors.append(f"{len(unread)} landed files never read, e.g. {unread[:3]}")
    if uncommitted:
        errors.append(f"{len(uncommitted)} landed files read by an uncommitted batch, e.g. {uncommitted[:3]}")
    return errors


def monitor_equal(got: pd.DataFrame, twin: pd.DataFrame) -> list[str]:
    """The committed monitor rows equal the DuckDB twin's, as multisets."""
    cols = list(twin.columns)
    key = ["window_start", "info_type", "contract"]

    def norm(df):
        d = df[cols].copy()
        d["window_start"] = _ts_us(d["window_start"])
        for c in ("n_groups", "n_breached", "n_combos"):
            d[c] = d[c].astype("int64")
        return d.sort_values(cols).reset_index(drop=True)

    g, t = norm(got), norm(twin)
    errors = exactly_once(g, key)
    if len(g) != len(t):
        errors.append(f"monitor: {len(g)} committed rows, twin has {len(t)}")
    m = t.merge(g, on=key, how="outer", suffixes=("_t", "_g"), indicator=True)
    lost = int((m["_merge"] == "left_only").sum())
    extra = int((m["_merge"] == "right_only").sum())
    if lost or extra:
        errors.append(f"monitor: {lost} twin windows missing, {extra} windows not in the twin")
    both = m[m["_merge"] == "both"]
    for c in ("n_groups", "n_breached", "n_combos"):
        diff = both[f"{c}_t"] != both[f"{c}_g"]
        if diff.any():
            errors.append(f"monitor: {c} differs in {int(diff.sum())} windows")
    return errors[:MAX_ERRORS]


def breaches_attributed(got: pd.DataFrame, feed: pd.DataFrame, window_s: int = 60) -> list[str]:
    """``n_breached`` is non-zero only where its contract's fault was
    injected: isolation breaches only in (window, infoType) cells that
    hold a shadow-scope event, consistency breaches only in cells that
    hold a retried token; and each contract breaches somewhere."""
    f = feed.copy()
    f["window_start"] = (_ts_us(f["ts"]) // (window_s * 1_000_000)) * (window_s * 1_000_000)
    cells = {
        fault: set(zip(f.loc[f["fault"] == fault, "window_start"], f.loc[f["fault"] == fault, "info_type"]))
        for fault in ("shadow", "retry")
    }
    g = got.copy()
    g["window_start"] = _ts_us(g["window_start"])
    errors = []
    for contract, fault in (("isolation", "shadow"), ("consistency", "retry")):
        b = g[(g["contract"] == contract) & (g["n_breached"] > 0)]
        if b.empty:
            errors.append(f"monitor: no {contract} breach although {fault} events were injected")
        stray = [k for k in zip(b["window_start"], b["info_type"]) if k not in cells[fault]]
        if stray:
            errors.append(f"monitor: {len(stray)} {contract} breaches in windows without a {fault} event")
    return errors
