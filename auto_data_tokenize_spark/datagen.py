"""Deterministic synthetic transcript tables + golden outputs.

The engine's authoritative input shape (BASELINE.json ``input_hint``):

    conv_id:string, turn_idx:int32, role:string, text:string,
    tool:string, ts:timestamp

This generator mirrors the reference's chat-transcript fixture
``sample-data-chats.csv`` (headers chatId,userType,transcript,
segmentId,segmentTimestamp — test/pipeline/CsvTokenizationAndOrdering
PipelineTest.java:202) and its synthetic-data generators
(test/testing/RandomGenericRecordGenerator.java, TestCsvFileGenerator),
but is seed-fixed and plants PII spans at known offsets so golden
tokenized outputs are computable without the engine.

Everything is derived from ``seed`` + ``sf`` only — no wall clock, no
environment — so regenerated files are value-identical across runs and
machines (required for golden equality and the DuckDB oracle).

Layout under ``data/<sf_name>/``:
  transcripts.parquet        input table
  tokenized_turns.parquet    golden: text→tokenized text (pure-Python oracle)
  detections.parquet         golden: one row per detected span
  token_dictionary.parquet   side stream for the stateful join (FIXTURES.md §2)
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from auto_data_tokenize_spark.functions import detectors
from auto_data_tokenize_spark.functions.tokenizer import DEFAULT_ROOT_KEY, Tokenizer

DATA_ROOT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "data")

SEED = 42
BASE_TS = pd.Timestamp("2026-01-05 08:00:00")  # naive UTC, matches testdata convention
TURNS_PER_SF = 2_000_000  # sf0.01 → 20_000 turns; sf0.1 → 200_000
HOT_CONVS = 3  # explicit skew: a few conversations own a large turn share
HOT_SHARE = 0.02  # each hot conv ≈ 2% of all turns
LATE_FRACTION = 0.02  # turns pushed >30 min into the past (watermark-drop tests)
SESSION_GAP_MIN = 30  # idle gap that closes a session window

_FIRST = ["alice", "bob", "carol", "dave", "erin", "frank", "grace", "heidi",
          "ivan", "judy", "mallory", "niaj", "olivia", "peggy", "rupert", "sybil"]
_DOM = ["example", "mail-example", "corp-example", "test-example"]
_TLD = ["com", "org", "net", "io"]
_TOOLS = ["crm_lookup", "order_status", "refund_api", "kb_search", "escalate"]

_TEMPLATES_PII = [
    "Hi, my email is {EMAIL} and I need help with my order.",
    "Sure — you can reach me at {PHONE} after 5pm.",
    "I paid with card {CC}, please check the charge.",
    "My SSN is {SSN} for the identity verification step.",
    "Contact: {EMAIL} or {PHONE}. Thanks!",
    "Card on file {CC}; backup email {EMAIL}.",
    "<span class=\"msg\">call {PHONE} re: case</span>",
    "verify ssn {SSN} then email receipt to {EMAIL}",
]
_TEMPLATES_CLEAN = [
    "Thanks for contacting support, how can I help you today?",
    "Let me look into that for you right away.",
    "The order shipped yesterday and should arrive within 3 business days.",
    "Is there anything else I can help you with?",
    "I have escalated this to our billing team.",
    "<div>session resumed</div> please hold while I pull up the account.",
    "Our records show the subscription renews on the 14th.",
    "no PII here, just a plain status update turn number {N}.",
]


def _luhn_check_digit(partial: str) -> str:
    total = 0
    for i, ch in enumerate(reversed(partial)):
        d = ord(ch) - 48
        if i % 2 == 0:  # check digit will occupy position 0
            d *= 2
            if d > 9:
                d -= 9
        total += d
    return str((10 - total % 10) % 10)


def _mk_email(rng: np.random.Generator) -> str:
    return (
        f"{_FIRST[rng.integers(len(_FIRST))]}"
        f"{rng.integers(1, 9999)}@{_DOM[rng.integers(len(_DOM))]}."
        f"{_TLD[rng.integers(len(_TLD))]}"
    )


def _mk_phone(rng: np.random.Generator) -> str:
    a = rng.integers(200, 990)
    b = rng.integers(200, 990)
    c = rng.integers(0, 10000)
    style = rng.integers(4)
    if style == 0:
        return f"({a}) {b}-{c:04d}"
    if style == 1:
        return f"{a}-{b}-{c:04d}"
    if style == 2:
        return f"+1 {a}.{b}.{c:04d}"
    return f"{a} {b} {c:04d}"


def _mk_cc(rng: np.random.Generator) -> str:
    n = 15 if rng.integers(4) == 0 else 16
    partial = "".join(str(rng.integers(10)) for _ in range(n - 1))
    digits = partial + _luhn_check_digit(partial)
    style = rng.integers(3)
    if style == 0:
        return digits
    sep = " " if style == 1 else "-"
    return sep.join(digits[i : i + 4] for i in range(0, len(digits), 4))


def _mk_ssn(rng: np.random.Generator) -> str:
    area = rng.integers(1, 665)  # valid area: 001-665 (skip 666/000/900+)
    group = rng.integers(1, 100)
    serial = rng.integers(1, 10000)
    return f"{area:03d}-{group:02d}-{serial:04d}"


def gen_transcripts(sf: float, seed: int = SEED) -> pd.DataFrame:
    """Deterministic transcript table, ~``TURNS_PER_SF*sf`` turns."""
    rng = np.random.default_rng([seed, int(sf * 1_000_000)])
    n_turns = max(200, int(TURNS_PER_SF * sf))

    # conversation sizes: a few hot keys + a long tail of 4-16 turn convs
    sizes: list[int] = [max(40, int(n_turns * HOT_SHARE))] * HOT_CONVS
    remaining = n_turns - sum(sizes)
    while remaining > 0:
        s = int(rng.integers(4, 17))
        s = min(s, remaining)
        sizes.append(s)
        remaining -= s

    rows_conv: list[str] = []
    rows_turn: list[int] = []
    rows_role: list[str] = []
    rows_text: list[str] = []
    rows_tool: list[str | None] = []
    rows_ts: list[pd.Timestamp] = []

    for c_idx, size in enumerate(sizes):
        conv_id = (
            f"conv_hot_{c_idx:04d}" if c_idx < HOT_CONVS else f"conv_{c_idx:06d}"
        )
        start = BASE_TS + pd.Timedelta(seconds=int(rng.integers(0, 6 * 3600)))
        ts = start
        for t in range(1, size + 1):
            role = ["customer", "agent", "agent", "customer", "tool"][
                int(rng.integers(5))
            ]
            has_pii = rng.random() < 0.55
            if has_pii:
                tpl = _TEMPLATES_PII[int(rng.integers(len(_TEMPLATES_PII)))]
                text = tpl
                if "{EMAIL}" in text:
                    text = text.replace("{EMAIL}", _mk_email(rng), 1)
                    if "{EMAIL}" in text:
                        text = text.replace("{EMAIL}", _mk_email(rng), 1)
                if "{PHONE}" in text:
                    text = text.replace("{PHONE}", _mk_phone(rng), 1)
                if "{CC}" in text:
                    text = text.replace("{CC}", _mk_cc(rng), 1)
                if "{SSN}" in text:
                    text = text.replace("{SSN}", _mk_ssn(rng), 1)
            else:
                tpl = _TEMPLATES_CLEAN[int(rng.integers(len(_TEMPLATES_CLEAN)))]
                text = tpl.replace("{N}", str(t))
            tool = (
                _TOOLS[int(rng.integers(len(_TOOLS)))]
                if role in ("agent", "tool") and rng.random() < 0.2
                else None
            )
            ts = ts + pd.Timedelta(seconds=int(rng.integers(5, 91)))
            row_ts = ts
            if rng.random() < LATE_FRACTION:
                # late event: stamped 30-60 min before its arrival position
                row_ts = ts - pd.Timedelta(seconds=int(rng.integers(1800, 3600)))
            rows_conv.append(conv_id)
            rows_turn.append(t)
            rows_role.append(role)
            rows_text.append(text)
            rows_tool.append(tool)
            rows_ts.append(row_ts)

    return pd.DataFrame(
        {
            "conv_id": pd.array(rows_conv, dtype="string"),
            "turn_idx": pd.array(rows_turn, dtype="int32"),
            "role": pd.array(rows_role, dtype="string"),
            "text": pd.array(rows_text, dtype="string"),
            "tool": pd.array(rows_tool, dtype="string"),
            "ts": pd.Series(rows_ts).astype("datetime64[us]"),
        }
    )


# --- golden oracle (pure Python; deliberately NOT the UDF layer) ---------


def golden_tokenized(transcripts: pd.DataFrame, root_key: bytes = DEFAULT_ROOT_KEY) -> pd.DataFrame:
    """Per-turn tokenized text, computed row-at-a-time (oracle path)."""
    tok = Tokenizer(root_key)
    out = transcripts.copy()
    out["text_tok"] = [
        tok.tokenize_text(c, t) for c, t in zip(out["conv_id"], out["text"])
    ]
    return out.drop(columns=["text"]).sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)


def golden_detections(transcripts: pd.DataFrame, root_key: bytes = DEFAULT_ROOT_KEY) -> pd.DataFrame:
    """One row per detected span: the oracle for identify/report queries."""
    tok = Tokenizer(root_key)
    recs = []
    for conv_id, turn_idx, text, ts in zip(
        transcripts["conv_id"], transcripts["turn_idx"], transcripts["text"], transcripts["ts"]
    ):
        for s in detectors.find_spans(text):
            recs.append(
                (
                    conv_id,
                    int(turn_idx),
                    s.info_type,
                    int(s.start),
                    int(s.end),
                    tok.token(conv_id, s.info_type, s.text),
                    ts,
                )
            )
    df = pd.DataFrame(
        recs, columns=["conv_id", "turn_idx", "info_type", "start", "end", "token", "ts"]
    )
    return df.astype(
        {"conv_id": "string", "turn_idx": "int32", "info_type": "string",
         "start": "int32", "end": "int32", "token": "string",
         # micro (not nano) precision: Spark's parquet reader maps INT64
         # TIMESTAMP(NANOS) to long, breaking TimestampType stream schemas
         "ts": "datetime64[us]"}
    )


def token_dictionary(detections: pd.DataFrame) -> pd.DataFrame:
    """Side-stream table (FIXTURES.md §2): first occurrence of each token."""
    d = detections.sort_values(["token", "ts", "turn_idx"]).drop_duplicates("token")
    out = d[["token", "info_type", "conv_id", "ts"]].copy()
    out["ts"] = (out["ts"] + pd.Timedelta(seconds=1)).astype("datetime64[us]")
    return out.sort_values(["conv_id", "ts"]).reset_index(drop=True)


# --- materialization ------------------------------------------------------

_ARROW_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us")),
    ]
)


def _write(df: pd.DataFrame, path: str, schema: pa.Schema | None = None) -> None:
    table = pa.Table.from_pandas(df, schema=schema, preserve_index=False)
    pq.write_table(table, path, compression="snappy")


def sf_name_to_sf(sf_name: str) -> float:
    return float(sf_name.removeprefix("sf"))


def ensure_sf(sf_name: str, data_root: str = DATA_ROOT, force: bool = False) -> str:
    """Idempotently materialize transcripts + goldens for one scale factor.

    Returns the directory containing the four parquet files.
    """
    out_dir = os.path.join(data_root, sf_name)
    marker = os.path.join(out_dir, "token_dictionary.parquet")
    if os.path.exists(marker) and not force:
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    sf = sf_name_to_sf(sf_name)
    transcripts = gen_transcripts(sf)
    _write(transcripts, os.path.join(out_dir, "transcripts.parquet"), _ARROW_SCHEMA)
    det = golden_detections(transcripts)
    _write(
        golden_tokenized(transcripts), os.path.join(out_dir, "tokenized_turns.parquet")
    )
    _write(det, os.path.join(out_dir, "detections.parquet"))
    _write(token_dictionary(det), os.path.join(out_dir, "token_dictionary.parquet"))
    return out_dir


# -- extended-detector fixture (PERSON_NAME + DATE_OF_BIRTH) ---------------
#
# The reference's transcript demo tokenizes PERSON_NAME, EMAIL_ADDRESS,
# DATE_OF_BIRTH (csv_dlp_tokenize_config.json:5-8; its chat fixture is
# pre-tagged by a CUSTOM_FIRST_NAME_DETECTOR — a first-name dictionary).
# A separate planted table keeps the base goldens byte-stable while the
# extended set gets its own computable oracle.

_TEMPLATES_EXT = [
    "Customer {NAME} verified identity, DOB: {DOB_ISO}.",
    "Patient {NAME} was born on {DOB_US} per the intake form.",
    "{NAME} <{EMAIL}> asked about the invoice.",
    "account holder: {NAME}, date of birth {DOB_ISO}, phone {PHONE}",
    "{FIRST} called earlier about the refund request.",
    "Customer {NAME}, born {DOB_LONG}, passed verification.",
    # no trailing period after {CC}: the CC pattern's decimal guard
    # (?![\d.]) rejects "…8357." by design
    "d.o.b. {DOB_US} on file for {NAME}; card {CC} per billing",
    # planted NEGATIVES — must NOT detect:
    "the grace period ends soon, no action needed.",  # lowercase dictionary word
    "meeting scheduled on {DOB_ISO} in the main office.",  # date, no birth context
    "born on 2026-02-31, which is not a real day.",  # calendar-implausible
    "ancestor born on 1/1/1880 per the genealogy record.",  # year out of range
]


def _mk_dob(rng: np.random.Generator, iso: bool) -> str:
    y = int(rng.integers(1940, 2010))
    m = int(rng.integers(1, 13))
    d = int(rng.integers(1, 29))  # always calendar-valid
    return f"{y:04d}-{m:02d}-{d:02d}" if iso else f"{m}/{d}/{y}"


def _mk_dob_long(rng: np.random.Generator) -> str:
    from auto_data_tokenize_spark.functions.detectors import _MONTHS

    y = int(rng.integers(1940, 2010))
    m = int(rng.integers(1, 13))
    d = int(rng.integers(1, 29))
    return f"{_MONTHS[m - 1]} {d}, {y}"


def gen_transcripts_ext(sf: float, seed: int = SEED) -> pd.DataFrame:
    """Deterministic extended-PII transcript table (~``3000*sf`` turns,
    same schema as ``gen_transcripts``): plants gazetteer names and
    birth dates (plus negatives) so EXTENDED_INFO_TYPES goldens are
    computable."""
    from auto_data_tokenize_spark.functions.detectors import FIRST_NAMES, LAST_NAMES

    rng = np.random.default_rng([seed + 11, int(sf * 1_000_000)])
    n = max(200, int(3000 * sf))
    rows = []
    ts = BASE_TS
    for i in range(n):
        conv_id = f"convx_{i // 8:06d}"
        tpl = _TEMPLATES_EXT[int(rng.integers(len(_TEMPLATES_EXT)))]
        first = FIRST_NAMES[int(rng.integers(len(FIRST_NAMES)))]
        last = LAST_NAMES[int(rng.integers(len(LAST_NAMES)))]
        name = first if rng.random() < 0.3 else f"{first} {last}"
        text = (
            tpl.replace("{NAME}", name)
            .replace("{FIRST}", first)
            .replace("{DOB_ISO}", _mk_dob(rng, iso=True))
            .replace("{DOB_US}", _mk_dob(rng, iso=False))
            .replace("{DOB_LONG}", _mk_dob_long(rng))
            .replace("{EMAIL}", _mk_email(rng))
            .replace("{PHONE}", _mk_phone(rng))
            .replace("{CC}", _mk_cc(rng))
        )
        ts = ts + pd.Timedelta(seconds=int(rng.integers(5, 91)))
        rows.append((conv_id, i % 8 + 1, ["customer", "agent"][i % 2], text, None, ts))
    return pd.DataFrame(
        {
            "conv_id": pd.array([r[0] for r in rows], dtype="string"),
            "turn_idx": pd.array([r[1] for r in rows], dtype="int32"),
            "role": pd.array([r[2] for r in rows], dtype="string"),
            "text": pd.array([r[3] for r in rows], dtype="string"),
            "tool": pd.array([r[4] for r in rows], dtype="string"),
            "ts": pd.Series([r[5] for r in rows]).astype("datetime64[us]"),
        }
    )


def golden_detections_ext(
    transcripts: pd.DataFrame, root_key: bytes = DEFAULT_ROOT_KEY
) -> pd.DataFrame:
    """Pure-Python oracle for the EXTENDED_INFO_TYPES detection stream."""
    tok = Tokenizer(root_key)
    recs = []
    for conv_id, turn_idx, text, ts in zip(
        transcripts["conv_id"], transcripts["turn_idx"], transcripts["text"], transcripts["ts"]
    ):
        for s in detectors.find_spans(text, detectors.EXTENDED_INFO_TYPES):
            recs.append(
                (
                    conv_id,
                    int(turn_idx),
                    s.info_type,
                    int(s.start),
                    int(s.end),
                    tok.token(conv_id, s.info_type, s.text),
                    ts,
                )
            )
    df = pd.DataFrame(
        recs, columns=["conv_id", "turn_idx", "info_type", "start", "end", "token", "ts"]
    )
    return df.astype(
        {"conv_id": "string", "turn_idx": "int32", "info_type": "string",
         "start": "int32", "end": "int32", "token": "string",
         "ts": "datetime64[us]"}
    )


# exactly the reference transcript demo's configured infoTypes
# (csv_dlp_tokenize_config.json:5-8)
CONFIG_INFO_TYPES = ("PERSON_NAME", "EMAIL_ADDRESS", "DATE_OF_BIRTH")


def golden_tokenized_ext3(
    transcripts: pd.DataFrame, root_key: bytes = DEFAULT_ROOT_KEY
) -> pd.DataFrame:
    """Free-form tokenization golden under the reference config's
    3-infoType selection (q60's oracle: PHONE/CC stay plaintext)."""
    tok = Tokenizer(root_key)
    out = transcripts[["conv_id", "turn_idx"]].copy()
    out["text"] = [
        tok.tokenize_text(c, t, CONFIG_INFO_TYPES)
        for c, t in zip(transcripts["conv_id"], transcripts["text"])
    ]
    return out.astype({"conv_id": "string", "turn_idx": "int32", "text": "string"})


def golden_labeled_ext(transcripts: pd.DataFrame) -> pd.DataFrame:
    """Free-form ``replaceWithInfoTypeConfig`` golden: every validated
    finding under the extended detector set becomes ``[INFO_TYPE]``
    (the public DLP replace-with-infoType transform; q65's oracle)."""
    out = transcripts[["conv_id", "turn_idx"]].copy()
    out["text"] = [
        detectors.replace_spans(
            t, lambda it, s: f"[{it}]", detectors.EXTENDED_INFO_TYPES
        )
        for t in transcripts["text"]
    ]
    return out.astype({"conv_id": "string", "turn_idx": "int32", "text": "string"})


def ensure_extended(sf_name: str, data_root: str = DATA_ROOT, force: bool = False) -> str:
    """Idempotently add transcripts_ext.parquet + detections_ext.parquet
    + tokenized_ext3.parquet + labeled_ext.parquet (goldens) next to the
    base fixtures. The marker is the NEWEST golden so fixture dirs from
    earlier rounds regenerate once (generation is seed-fixed and
    byte-stable — see tests/test_datagen.py)."""
    out_dir = ensure_sf(sf_name, data_root)
    marker = os.path.join(out_dir, "labeled_ext.parquet")
    if os.path.exists(marker) and not force:
        return out_dir
    tr = gen_transcripts_ext(sf_name_to_sf(sf_name))
    _write(tr, os.path.join(out_dir, "transcripts_ext.parquet"), _ARROW_SCHEMA)
    _write(golden_detections_ext(tr), os.path.join(out_dir, "detections_ext.parquet"))
    _write(golden_tokenized_ext3(tr), os.path.join(out_dir, "tokenized_ext3.parquet"))
    _write(golden_labeled_ext(tr), marker)
    return out_dir


# -- multimodal fixture ------------------------------------------------------

_MEDIA_ARROW = pa.schema(
    [
        ("media_id", pa.int64()),
        ("kind", pa.string()),
        ("mime", pa.string()),
        ("width", pa.int32()),
        ("height", pa.int32()),
        ("duration_ms", pa.int32()),
        ("payload", pa.binary()),
    ]
)

_MIMES = {"image": "image/png", "audio": "audio/wav", "video": "video/mp4"}


def gen_media(sf: float, seed: int = SEED) -> pd.DataFrame:
    """Deterministic synthetic media table (binary payloads + typed
    metadata) — the multimodal-plumbing input (operators/multimodal.py).
    Videos get 1-9 s durations so frame sampling has varied fan-out."""
    rng = np.random.default_rng(seed + 7)
    n = max(30, int(3000 * sf))
    rows = []
    for i in range(n):
        kind = ["image", "audio", "video"][i % 3]
        payload = rng.integers(0, 256, size=256, dtype=np.uint8).tobytes()
        rows.append(
            (
                i,
                kind,
                _MIMES[kind],
                64,
                48,
                1000 * (1 + i % 9) if kind == "video" else 0,
                payload,
            )
        )
    return pd.DataFrame(
        rows,
        columns=["media_id", "kind", "mime", "width", "height", "duration_ms", "payload"],
    )


def golden_media_features(media: pd.DataFrame, dim: int = 16) -> pd.DataFrame:
    """INDEPENDENT re-implementation of the deterministic fake decoder
    spec (sha256-seeded feature stream, operators/multimodal.py
    ``_fake_decode``) — written separately on purpose so the q30 oracle
    cross-checks the operator rather than sharing its code path.
    feat_sum = sequential float64 sum of the float32 features, round 6
    (matches Spark's left-to-right ``aggregate`` exactly)."""
    import hashlib

    out = []
    for mid, payload in zip(media["media_id"], media["payload"]):
        h = hashlib.sha256(payload or b"").digest()
        buf = b""
        c = 0
        while len(buf) < 4 * dim:
            buf += hashlib.sha256(h + c.to_bytes(4, "big")).digest()
            c += 1
        feats = (
            np.frombuffer(buf[: 4 * dim], dtype=np.uint32).astype(np.float64)
            / 2**32
        ).astype(np.float32)
        s = 0.0
        for v in feats:
            s += float(v)
        out.append((mid, dim, round(s, 6)))
    return pd.DataFrame(out, columns=["media_id", "feat_dim", "feat_sum"])


def ensure_media(sf_name: str, data_root: str = DATA_ROOT, force: bool = False) -> str:
    """Idempotently add media.parquet + media_features.parquet (golden)
    next to the transcript fixtures."""
    out_dir = ensure_sf(sf_name, data_root)
    marker = os.path.join(out_dir, "media_features.parquet")
    if os.path.exists(marker) and not force:
        return out_dir
    media = gen_media(sf_name_to_sf(sf_name))
    _write(media, os.path.join(out_dir, "media.parquet"), _MEDIA_ARROW)
    _write(golden_media_features(media), marker)
    return out_dir


TESTDATA_ROOT = "/root/testdata"
BPE_MERGES = 30


def ensure_bpe(
    sf_name: str,
    data_root: str = DATA_ROOT,
    testdata_root: str = TESTDATA_ROOT,
    n_merges: int = BPE_MERGES,
    force: bool = False,
) -> str:
    """Idempotently materialize the pure-Python BPE merge golden for
    one scale factor: train_bpe_golden over the driver-provided
    documents table (q73's oracle; the distributed trainer must
    reproduce it token-for-token). Deterministic — same corpus, same
    merges."""
    out_dir = os.path.join(data_root, sf_name)
    os.makedirs(out_dir, exist_ok=True)
    marker = os.path.join(out_dir, "bpe_tokens.parquet")
    if os.path.exists(marker) and not force:
        return out_dir
    from auto_data_tokenize_spark.operators.bpe import (
        encode_text,
        train_bpe_golden,
    )

    docs = pd.read_parquet(
        os.path.join(testdata_root, sf_name, "documents.parquet"),
        columns=["doc_id", "text"],
    )
    merges = train_bpe_golden(docs["text"].tolist(), n_merges=n_merges)
    out = pd.DataFrame(merges, columns=["rank", "left", "right"]).astype(
        {"rank": "int32", "left": "string", "right": "string"}
    )
    _write(out, os.path.join(out_dir, "bpe_merges.parquet"))
    pairs = [(l, r) for _, l, r in merges]
    toks = docs["text"].map(lambda t: encode_text(t, pairs))
    enc = pd.DataFrame(
        {
            "doc_id": docs["doc_id"],
            "bpe_tokens": toks,
            "n_bpe_tokens": toks.map(len).astype("int64"),
        }
    )
    _write(enc, marker)
    return out_dir


def golden_image_ahash(
    ids: list, width: int = 16, height: int = 12, grid: int = 8
) -> pd.DataFrame:
    """INDEPENDENT pure-Python-loop implementation of the integer
    aHash spec (operators/multimodal.py image_ahash docstring) over
    the shared deterministic pixel generator — the q99 oracle golden.
    Deliberately no numpy and no decode: it hashes the pixels the
    synth WOULD encode, so the gate checks the operator's full
    encode → BMP-decode → hash path against spec arithmetic."""
    from auto_data_tokenize_spark.operators.multimodal import (
        synth_image_pixels,
    )

    out = []
    for media_id in ids:
        px = synth_image_pixels(media_id, width, height)
        gray = [
            [
                (px[y][x][0] * 299 + px[y][x][1] * 587 + px[y][x][2] * 114)
                // 1000
                for x in range(width)
            ]
            for y in range(height)
        ]
        lattice = [
            gray[(ty * height) // grid][(tx * width) // grid]
            for ty in range(grid)
            for tx in range(grid)
        ]
        mean = sum(lattice) // (grid * grid)
        v = 0
        for g in lattice:
            v = (v << 1) | (1 if g > mean else 0)
        if v >= 1 << 63:
            v -= 1 << 64
        out.append((media_id, v))
    return pd.DataFrame(out, columns=["media_id", "ahash"]).astype(
        {"media_id": "int64", "ahash": "int64"}
    )


IMAGE_CORPUS_BASE = 40
IMAGE_CORPUS_COPIES = 20


def ensure_image_hashes(
    sf_name: str, data_root: str = DATA_ROOT, force: bool = False
) -> str:
    """Idempotently materialize the q99 golden: aHash of every image
    in the synth image-dedup corpus (40 base + 20 planted near-copies;
    the corpus itself is rebuilt deterministically in-query)."""
    out_dir = ensure_sf(sf_name, data_root)
    marker = os.path.join(out_dir, "image_ahash.parquet")
    if os.path.exists(marker) and not force:
        return out_dir
    ids = list(range(IMAGE_CORPUS_BASE)) + [
        1000 + i for i in range(IMAGE_CORPUS_COPIES)
    ]
    _write(golden_image_ahash(ids), marker)
    return out_dir
