"""Arrow-vectorized UDF layer over the detection/tokenization cores.

These are the engine's ONLY Python-side hot-path functions; everything
else stays JVM-side (built-in ``pyspark.sql.functions``). Design rules:

- ``pandas_udf`` (Series→Series, Arrow batches) — never row-at-a-time
  Python UDFs. The Arrow batch is the analogue of the reference's DLP
  request batch (dlp/BatchColumnsForDlp.java:50-54): work arrives in
  ~10k-row columnar chunks (session.ARROW_BATCH_ROWS).
- Per-executor tokenizer singletons, mirroring the reference's DLP
  client held per DoFn instance (dlp/DlpIdentify.java:153-156): cipher
  objects and derived keys are created lazily inside the worker and
  cached across batches; key material crosses the driver→executor
  boundary once, inside the (tiny) closure — never through a shuffle.
- Inside a batch, each row gets one compiled-regex detection pass and
  per-span replacement with a cached per-(conv, infoType) cipher. (A
  per-conversation ``groupby`` + ``Series.str.replace`` variant was
  measured ~4× slower at transcript cardinalities — see
  ``tokenize_text_udf``.)
- Root keys resolve through ``tokenizer.resolve_root_key``: explicit
  argument > ``ADT_ROOT_KEY_HEX`` env > dev default with a loud
  warning (the dev key is public — see tokenizer.py).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from auto_data_tokenize_spark.functions import detectors
from auto_data_tokenize_spark.functions.tokenizer import Tokenizer, resolve_root_key

# executor-local singletons keyed by root key (DoFn-@Setup analogue)
_TOKENIZERS: dict[bytes, Tokenizer] = {}


def _get_tokenizer(root_key: bytes) -> Tokenizer:
    t = _TOKENIZERS.get(root_key)
    if t is None:
        t = Tokenizer(root_key)
        _TOKENIZERS[root_key] = t
    return t


def tokenize_text_udf(
    root_key: bytes | None = None,
    info_types: tuple[str, ...] | None = None,
):
    """(conv_id, text) -> tokenized text. Free-form span tokenization
    (semantics of EncryptingFlatRecordTokenizer.java:75-118 +
    free_form_column=true, csv_dlp_tokenize_config.json:1-21).
    ``info_types`` selects the detector set (None = default four).

    Inner loop: one compiled-regex pass per row over the Arrow batch
    with per-(conv, infoType) cipher caching. Measured ~45k rows/s/core
    — a per-conversation ``groupby`` + ``Series.str.replace`` variant
    was ~4× slower at transcript cardinalities (thousands of 10-row
    groups per batch drown in pandas group/concat overhead)."""
    root_key = resolve_root_key(root_key)

    @pandas_udf(StringType())
    def _tokenize(conv: pd.Series, text: pd.Series) -> pd.Series:
        tok = _get_tokenizer(root_key)
        tokenize_text = tok.tokenize_text
        return pd.Series(
            [
                tokenize_text(c, t, info_types)
                if (t is not None and t == t)
                else None
                for c, t in zip(conv, text)
            ],
            index=text.index,
            dtype=object,
        )

    return _tokenize


def transform_text_udf(
    repl,
    info_types: tuple[str, ...] | None = None,
    *,
    takes_context: bool = False,
):
    """text -> text with every validated finding rewritten by
    ``repl(info_type, matched) -> str`` — the free-form carrier for the
    non-crypto primitive transformations (characterMask / redact /
    replace / replaceWithInfoType; operators.deidentify.free_form_repl).
    Same Arrow batch shape and per-row compiled-regex pass as
    ``tokenize_text_udf``, minus the cipher (no key, no scope).

    ``takes_context=True`` builds a TWO-column UDF ``(text, ctx)`` and
    calls ``repl(info_type, matched, ctx)`` per row (NULL ctx binds as
    ``""``, the FPE tweak posture) — used by the free-form FPE path to
    honor a configured ``context`` column."""

    if takes_context:

        @pandas_udf(StringType())
        def _transform_ctx(text: pd.Series, ctxs: pd.Series) -> pd.Series:
            out = []
            for t, c in zip(text, ctxs):
                if t is None or t != t:
                    out.append(None)
                    continue
                cv = "" if c is None or c != c else str(c)
                out.append(
                    detectors.replace_spans(
                        t, lambda it, s, cv=cv: repl(it, s, cv), info_types
                    )
                )
            return pd.Series(out, index=text.index, dtype=object)

        return _transform_ctx

    @pandas_udf(StringType())
    def _transform(text: pd.Series) -> pd.Series:
        return pd.Series(
            [
                detectors.replace_spans(t, repl, info_types)
                if (t is not None and t == t)
                else None
                for t in text
            ],
            index=text.index,
            dtype=object,
        )

    return _transform


def detokenize_text_udf(root_key: bytes | None = None):
    """(conv_id, tokenized_text) -> original text (ValueTokenizer.decrypt
    analogue, encryptors/ValueTokenizer.java)."""
    root_key = resolve_root_key(root_key)

    @pandas_udf(StringType())
    def _detokenize(conv: pd.Series, text: pd.Series) -> pd.Series:
        tok = _get_tokenizer(root_key)
        detok = tok.detokenize_text
        return pd.Series(
            [
                detok(c, t) if (t is not None and t == t) else None
                for c, t in zip(conv, text)
            ],
            index=text.index,
            dtype=object,
        )

    return _detokenize


SPAN_SCHEMA = ArrayType(
    StructType(
        [
            StructField("info_type", StringType()),
            StructField("start", IntegerType()),
            StructField("end", IntegerType()),
            StructField("token", StringType()),
        ]
    )
)


def detect_spans_udf(
    root_key: bytes | None = None,
    info_types: tuple[str, ...] | None = None,
):
    """(conv_id, text) -> array<struct<info_type,start,end,token>>.

    The local analogue of dlp.inspectContent findings
    (dlp/DlpBatchInspect.java:114-136), plus the deterministic token each
    span would map to (so detections can join the token dictionary).
    ``info_types`` selects the detector set (None = default four)."""
    root_key = resolve_root_key(root_key)

    @pandas_udf(SPAN_SCHEMA)
    def _detect(conv: pd.Series, text: pd.Series) -> pd.Series:
        tok = _get_tokenizer(root_key)
        find_spans = detectors.find_spans
        token = tok.token
        out = [
            [
                {
                    "info_type": sp.info_type,
                    "start": sp.start,
                    "end": sp.end,
                    "token": token(c, sp.info_type, sp.text),
                }
                for sp in find_spans(t, info_types)
            ]
            if (t is not None and t == t)
            else []
            for c, t in zip(conv, text)
        ]
        return pd.Series(out, index=text.index, dtype=object)

    return _detect


def info_types_udf(info_types: tuple[str, ...] | None = None):
    """text -> array<string> of detected infoTypes (no tokens; cheapest
    detection shape for identify/sampling paths)."""

    @pandas_udf(ArrayType(StringType()))
    def _info_types(text: pd.Series) -> pd.Series:
        return text.map(
            lambda t: [sp.info_type for sp in detectors.find_spans(t, info_types)]
            if t is not None and t == t
            else []
        )

    return _info_types
