"""Command-line entry points mirroring the reference's three runnable
pipelines, flag-for-flag where the flag is locally meaningful:

    python -m auto_data_tokenize_spark.cli inspect \
        --inputPattern=/data/in.parquet --sourceType=PARQUET \
        --sampleSize=1000 --reportLocation=/data/report

    python -m auto_data_tokenize_spark.cli encrypt \
        --inputPattern=/data/in.avro --sourceType=AVRO \
        --tokenizeColumns='$.Record.email' \
        --outputDirectory=/data/out

    python -m auto_data_tokenize_spark.cli csv-tokenize \
        --inputPattern=/data/chats.csv --csvFirstRowHeader \
        --dlpEncryptConfigJson=/cfg/csv_dlp_tokenize_config.json \
        --orderingColumnNames=conv_id,turn_idx \
        --outputDirectory=/data/out --csvFileShardCount=5

Flag names and defaults follow the reference's PipelineOptions
interfaces (DlpInspectionOptions.java, EncryptionPipelineOptions.java,
CsvTokenizationAndOrderingPipeline.java:50-66); Beam's ``--name=value``
syntax is what argparse parses natively. Flags bound to GCP services
(``--reportBigQueryTable``, ``--dataCatalog*``, ``--mainKmsKeyUri``,
``--outputBigQueryTable``) are intentionally absent — this engine's
key custody is the ADT_ROOT_KEY_HEX env / ``--rootKeyHex`` seam
(functions/tokenizer.py) and its sinks are files. A user of the
reference keeps their source flags, swaps the GCP sinks for paths.
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def _csv_list(s: str) -> list[str]:
    return [p.strip() for p in str(s).split(",") if p.strip()]


def _add_source_flags(p: argparse.ArgumentParser) -> None:
    """Source flags shared by every pipeline
    (AutoInspectAndTokenizeOptions.java:28-90)."""
    p.add_argument("--inputPattern", required=True,
                   help="file glob, or table/query name for JDBC sources")
    p.add_argument("--sourceType", default=None,
                   help="PARQUET | AVRO | CSV_FILE | JSON | ORC | "
                        "JDBC_TABLE | JDBC_QUERY")
    # CSV shape (reference defaults: header off, comma, UTF-8)
    p.add_argument("--csvFirstRowHeader", action="store_true", default=False)
    p.add_argument("--csvHeaders", type=_csv_list, default=None,
                   help="comma-separated column names for headerless CSV")
    p.add_argument("--csvColumnDelimiter", default=",")
    p.add_argument("--csvCharset", default="UTF-8")
    # JDBC (inputPattern carries the table name / SQL, per the
    # reference's TransformingReader contract)
    p.add_argument("--jdbcConnectionUrl", default=None)
    p.add_argument("--jdbcDriverClass", default=None)
    p.add_argument("--jdbcFilterClause", default=None)
    p.add_argument("--jdbcUserName", default=None)
    p.add_argument("--jdbcPassword", default=None)
    p.add_argument("--jdbcPasswordSecretsKey", default=None,
                   help="opaque secret reference resolved through the "
                        "registered CredentialProvider")
    p.add_argument("--jdbcPartitionColumn", default=None,
                   help="numeric column for parallel range reads "
                        "(requires --jdbcNumPartitions)")
    p.add_argument("--jdbcNumPartitions", type=int, default=None)
    p.add_argument("--cores", type=int, default=None,
                   help="local[N] cores; default local[*]")


def _read_input(spark, args):
    from auto_data_tokenize_spark.sources.readers import read_source

    st = (args.sourceType or "PARQUET").upper()
    opts: dict = {}
    if st in ("CSV", "CSV_FILE"):
        if args.csvCharset.upper().replace("-", "") not in ("UTF8", "ASCII"):
            raise SystemExit(
                f"--csvCharset={args.csvCharset}: only UTF-8/ASCII are "
                "supported (Spark csv reads UTF-8)"
            )
        opts["header"] = bool(args.csvFirstRowHeader)
        opts["delimiter"] = args.csvColumnDelimiter
        df = read_source(spark, st, args.inputPattern, **opts)
        if args.csvHeaders:
            if len(args.csvHeaders) != len(df.columns):
                raise SystemExit(
                    f"--csvHeaders names {len(args.csvHeaders)} columns, "
                    f"input has {len(df.columns)}"
                )
            for old, new in zip(df.columns, args.csvHeaders):
                df = df.withColumnRenamed(old, new)
        return df
    if st in ("JDBC_TABLE", "JDBC_QUERY"):
        if not args.jdbcConnectionUrl:
            raise SystemExit("--jdbcConnectionUrl is required for JDBC sources")
        opts = {"url": args.jdbcConnectionUrl}
        if st == "JDBC_TABLE":
            opts["table"] = args.inputPattern
        else:
            opts["query"] = args.inputPattern
        if args.jdbcDriverClass:
            opts["driver"] = args.jdbcDriverClass
        if args.jdbcFilterClause:
            opts["filter_clause"] = args.jdbcFilterClause
        if args.jdbcUserName:
            opts["user"] = args.jdbcUserName
        if args.jdbcPassword:
            opts["password"] = args.jdbcPassword
        if args.jdbcPasswordSecretsKey:
            opts["password_secret"] = args.jdbcPasswordSecretsKey
        if args.jdbcPartitionColumn:
            opts["partition_column"] = args.jdbcPartitionColumn
            opts["num_partitions"] = args.jdbcNumPartitions or 4
        return read_source(spark, st, None, **opts)
    return read_source(spark, st, args.inputPattern)


def _root_key(args) -> bytes | None:
    if getattr(args, "rootKeyHex", None):
        return bytes.fromhex(args.rootKeyHex)
    return None  # resolve_root_key falls back to ADT_ROOT_KEY_HEX / dev key


def _strip_column_id(name: str) -> str:
    """Accept both plain column names and the reference's JSONPath
    column ids ('$.Record.col' → 'col'; nested ids keep dots)."""
    if name.startswith("$."):
        parts = [p for p in name[2:].split(".") if p]
        if len(parts) < 2:
            raise SystemExit(f"bad columnId {name!r} (need $.Record.col)")
        return ".".join(parts[1:])
    return name


def _explode_array_struct_leaves(df):
    """array<struct> columns → one string column per leaf at
    schema-key granularity (``$.contact.nums.number``), exploded so
    each element's value is sampleable — the reference reports
    array findings under the index-free schema key
    (GenericRecordFlattener.java:88-94: flat_key carries ``[i]``,
    schema_key does not; per-column reports group by schema key)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import ArrayType, StructType

    from auto_data_tokenize_spark.sources.flatten import _leaf_paths

    while True:
        arr = next(
            (
                f for f in df.schema.fields
                if isinstance(f.dataType, ArrayType)
                and isinstance(f.dataType.elementType, StructType)
            ),
            None,
        )
        if arr is None:
            return df
        keep = [F.col(f"`{c}`") for c in df.columns if c != arr.name]
        df = df.select(
            *keep, F.explode_outer(F.col(f"`{arr.name}`")).alias("_e")
        )
        df = df.select(
            *[F.col(f"`{c}`") for c in df.columns if c != "_e"],
            *[
                F.col(f"_e.{key.replace('`', '')}")
                .cast("string")
                .alias(f"{arr.name}.{key}")
                for _, key in _leaf_paths(arr.dataType.elementType)
            ],
        )


def cmd_inspect(args) -> int:
    """DlpInspectionPipeline.main analogue: sample → identify →
    col-*.json + schema.json under --reportLocation
    (DlpInspectionPipeline.java:110-191)."""
    from auto_data_tokenize_spark import get_spark
    from auto_data_tokenize_spark.operators import report_io
    from auto_data_tokenize_spark.plans import pipelines

    spark = get_spark("adt-inspect", cores=args.cores)
    df = _read_input(spark, args)
    # nested records flatten to the reference's JSONPath schema keys
    # before sampling (DlpInspectionPipeline's RecordFlattener stage)
    if any(f.dataType.typeName() == "struct" for f in df.schema.fields):
        from auto_data_tokenize_spark.sources.flatten import flatten_records

        df = flatten_records(df)
    df = _explode_array_struct_leaves(df)
    # the sampler's report prefixes '$.' itself; drop the flattener's
    # so nested keys don't double up ('$.$.contact.name')
    for c in df.columns:
        if c.startswith("$."):
            df = df.withColumnRenamed(c, c[2:])
    string_cols = [f.name for f in df.schema.fields
                   if f.dataType.typeName() == "string"]
    cols = args.inspectColumns or string_cols
    cfg = pipelines.InspectConfig(
        columns=cols,
        sample_size=args.sampleSize,
        source_type=(args.sourceType or "PARQUET").upper(),
        input_pattern=args.inputPattern,
        observable_info_types=(
            tuple(args.observableInfoTypes) if args.observableInfoTypes
            else None
        ),
    )
    col_report, _ = pipelines.inspect(df, cfg)
    paths = report_io.write_column_reports(col_report, args.reportLocation)
    # CSV sources: schema.json carries the reference's synthetic
    # all-string CsvRecord (CsvRowFlatRecordConvertors.makeCsvAvroSchema)
    avsc = None
    if (args.sourceType or "").upper() in ("CSV", "CSV_FILE"):
        from auto_data_tokenize_spark.sources.readers import csv_avro_schema

        avsc = csv_avro_schema(list(df.columns))
    schema_path = report_io.write_schema_file(
        df, args.reportLocation, avro_schema=avsc
    )
    print(json.dumps({
        "column_reports": sorted(os.path.basename(p) for p in paths),
        "schema": os.path.basename(schema_path),
        "report_location": args.reportLocation,
    }))
    return 0


def _write_updated_schema(args) -> str:
    """Write the reference-parity de-identified schema for an AVRO
    source (DeIdentifiedRecordSchemaConverter semantics — see
    sources/schema_encrypt.py; golden-pinned in
    tests/test_schema_encrypt.py). Driver-side metadata only: reads
    one container header, never data blocks."""
    import glob
    from datetime import datetime, timezone

    from auto_data_tokenize_spark.sources.avro_io import read_header
    from auto_data_tokenize_spark.sources.schema_encrypt import (
        encrypt_avro_schema,
    )

    if (args.sourceType or "").upper() != "AVRO":
        raise SystemExit("--updatedSchemaLocation requires --sourceType AVRO")
    keys = {c for c in (args.tokenizeColumns or []) if c.startswith("$.")}
    if args.dlpEncryptConfigJson:
        from auto_data_tokenize_spark.operators.dlp_config import (
            parse_encrypt_config,
        )

        src = args.dlpEncryptConfigJson
        specs = parse_encrypt_config(
            json.loads(src) if src.lstrip().startswith("{") else src
        )
        keys.update(s.column_id for s in specs)
    if not keys:
        raise SystemExit(
            "--updatedSchemaLocation needs $.Record.column-style encrypt "
            "keys via --tokenizeColumns and/or --dlpEncryptConfigJson"
        )
    pats = [args.inputPattern, os.path.join(args.inputPattern, "*.avro")]
    files = sorted(f for p in pats for f in glob.glob(p) if os.path.isfile(f))
    if not files:
        raise SystemExit(f"no avro files match {args.inputPattern}")
    with open(files[0], "rb") as f:
        avsc, _codec, _sync = read_header(f)
    ts = args.updatedSchemaAt or datetime.now(timezone.utc).strftime(
        "%Y-%m-%dT%H:%M:%SZ"
    )
    updated = encrypt_avro_schema(avsc, keys, ts)
    out_path = args.updatedSchemaLocation
    os.makedirs(os.path.dirname(out_path) or ".", exist_ok=True)
    with open(out_path, "w") as f:
        json.dump(updated, f, indent=2)
    return out_path


def cmd_encrypt(args) -> int:
    """EncryptionPipeline.main analogue: read → tokenize (whole-value
    --tokenizeColumns and/or --dlpEncryptConfigJson transforms) →
    Avro (snappy, the reference's codec: EncryptionPipeline.java:125-132)
    or Parquet under --outputDirectory."""
    from auto_data_tokenize_spark import get_spark
    from auto_data_tokenize_spark.operators.dlp_config import (
        apply_encrypt_config,
        parse_encrypt_config,
    )
    from auto_data_tokenize_spark.operators.tokenize import tokenize_columns

    if not args.tokenizeColumns and not args.dlpEncryptConfigJson:
        raise SystemExit(
            "provide --tokenizeColumns and/or --dlpEncryptConfigJson"
        )
    if args.updatedSchemaLocation:
        _write_updated_schema(args)
    spark = get_spark("adt-encrypt", cores=args.cores)
    df = _read_input(spark, args)
    if args.tinkEncryptionKeySetJson:
        # the reference's own key path (EncryptionPipelineOptions.java:47;
        # EncryptionPipeline.java:117): a cleartext Tink AES256-SIV
        # keyset drives WIRE-COMPATIBLE tokens (functions/tink_compat.py,
        # byte-parity pinned against the reference's goldens). KMS-
        # wrapped keysets (--mainKmsKeyUri) are out of scope (GCP
        # service); pass the cleartext keyset or a file path to one.
        from auto_data_tokenize_spark.operators.tokenize import (
            tokenize_columns_tink,
        )

        if args.dlpEncryptConfigJson:
            raise SystemExit(
                "--tinkEncryptionKeySetJson applies whole-value Tink "
                "tokens; combine it with --tokenizeColumns only"
            )
        if args.scopeColumn:
            # the Tink wire format has no per-record key scope (one
            # keyset for the run, like the reference) — silently
            # ignoring the flag would restore cross-record token
            # joinability the user asked to prevent
            raise SystemExit(
                "--scopeColumn is not supported with "
                "--tinkEncryptionKeySetJson (Tink tokens are "
                "keyset-global, matching the reference's wire format)"
            )
        src = args.tinkEncryptionKeySetJson
        if src.lstrip().startswith("{"):
            ks = src
        else:
            from pathlib import Path

            ks = Path(src).read_text()
        cols = [_strip_column_id(c) for c in (args.tokenizeColumns or [])]
        out = tokenize_columns_tink(df, cols, ks)
        return _write_encrypt_output(args, out)
    rk = _root_key(args)
    out = df
    if args.dlpEncryptConfigJson:
        src = args.dlpEncryptConfigJson
        specs = parse_encrypt_config(
            json.loads(src) if src.lstrip().startswith("{") else src
        )
        out = apply_encrypt_config(
            out, specs, scope_col=args.scopeColumn, root_key=rk
        )
    if args.tokenizeColumns:
        cols = [_strip_column_id(c) for c in args.tokenizeColumns]
        out = tokenize_columns(
            out, cols, scope_col=args.scopeColumn, root_key=rk
        )
    return _write_encrypt_output(args, out)


def _write_encrypt_output(args, out) -> int:
    fmt = args.outputFormat.lower()
    if fmt == "avro":
        from auto_data_tokenize_spark.sources.avro_io import write_avro

        write_avro(out, args.outputDirectory, codec="snappy")
    elif fmt == "parquet":
        out.write.mode("errorifexists").parquet(args.outputDirectory)
    else:
        raise SystemExit(f"--outputFormat must be avro|parquet, got {fmt!r}")
    print(json.dumps({
        "output_directory": args.outputDirectory,
        "format": fmt,
        "columns": out.columns,
    }))
    return 0


def cmd_csv_tokenize(args) -> int:
    """CsvTokenizationAndOrderingPipeline.main analogue: CSV in →
    tokenize → stable order → --csvFileShardCount CSV shards out
    (CsvTokenizationAndOrderingPipeline.java:104-125)."""
    from auto_data_tokenize_spark import get_spark
    from auto_data_tokenize_spark.operators.dlp_config import (
        apply_encrypt_config,
        parse_encrypt_config,
    )
    from auto_data_tokenize_spark.operators.ordering import cluster_sorted_through

    args.sourceType = "CSV_FILE"  # forced, like makeCsvOptions()
    spark = get_spark("adt-csv-tokenize", cores=args.cores)
    df = _read_input(spark, args)
    rk = _root_key(args)
    specs = []
    if args.dlpEncryptConfigJson:
        src = args.dlpEncryptConfigJson
        specs = parse_encrypt_config(
            json.loads(src) if src.lstrip().startswith("{") else src
        )

    def encrypt(d):
        if not specs:
            return d
        return apply_encrypt_config(
            d, specs, scope_col=args.scopeColumn, root_key=rk
        )

    out = encrypt(df)
    if args.orderingColumns:
        try:
            keys = tuple(out.columns[int(i)] for i in args.orderingColumns)
        except (ValueError, IndexError) as e:
            raise SystemExit(f"bad --orderingColumns: {e}") from None
    elif args.orderingColumnNames:
        keys = tuple(args.orderingColumnNames)
    else:
        keys = None
    if keys:
        missing = [k for k in keys if k not in out.columns]
        if missing:
            raise SystemExit(f"ordering columns not in input: {missing}")
        # keys index the encrypted columns; the order is computed before
        # the encrypt UDFs when no key is one they rewrite
        out = cluster_sorted_through(
            df, encrypt, keys, num_partitions=args.csvFileShardCount
        )
    else:
        out = out.repartition(args.csvFileShardCount)
    (
        out.write.option("header", True)
        .option("escape", '"')
        .mode("errorifexists")
        .csv(args.outputDirectory)
    )
    print(json.dumps({
        "output_directory": args.outputDirectory,
        "shards": args.csvFileShardCount,
        "ordered_by": list(keys) if keys else [],
    }))
    return 0


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(
        prog="auto_data_tokenize_spark",
        description=__doc__,
        formatter_class=argparse.RawDescriptionHelpFormatter,
    )
    sub = ap.add_subparsers(dest="command", required=True)

    p_ins = sub.add_parser(
        "inspect", aliases=["DlpInspectionPipeline"],
        help="sample columns, detect infoTypes, write col-*.json reports",
    )
    _add_source_flags(p_ins)
    p_ins.add_argument("--sampleSize", type=int, default=1000)
    p_ins.add_argument("--reportLocation", required=True)
    p_ins.add_argument("--observableInfoTypes", type=_csv_list, default=None)
    p_ins.add_argument("--inspectColumns", type=_csv_list, default=None,
                       help="restrict inspection; default = all string cols")
    p_ins.set_defaults(func=cmd_inspect)

    p_enc = sub.add_parser(
        "encrypt", aliases=["EncryptionPipeline"],
        help="tokenize columns / apply a DlpEncryptConfig, write avro|parquet",
    )
    _add_source_flags(p_enc)
    p_enc.add_argument("--tokenizeColumns", type=_csv_list, default=None)
    p_enc.add_argument("--dlpEncryptConfigJson", default=None,
                       help="path to, or inline, DlpEncryptConfig JSON")
    p_enc.add_argument("--outputDirectory", required=True)
    p_enc.add_argument("--outputFormat", default="avro")
    p_enc.add_argument("--scopeColumn", default=None,
                       help="column scoping the per-record key derivation")
    p_enc.add_argument("--rootKeyHex", default=None,
                       help="hex root key; default ADT_ROOT_KEY_HEX env")
    p_enc.add_argument("--tinkEncryptionKeySetJson", default=None,
                       help="cleartext Tink AES256-SIV keyset JSON (or a "
                            "path to one) — emits tokens byte-compatible "
                            "with the reference's "
                            "DaeadEncryptingValueTokenizer")
    p_enc.add_argument("--updatedSchemaLocation", default=None,
                       help="AVRO sources only: also write the reference-"
                            "parity de-identified schema JSON "
                            "(DeIdentifiedRecordSchemaConverter semantics: "
                            "encrypted_* renames + ORIGINAL_TYPE props) to "
                            "this file")
    p_enc.add_argument("--updatedSchemaAt", default=None,
                       help="ISO-8601 instant stamped into the updated "
                            "schema doc (default: now UTC); pin it for "
                            "reproducible schema files")
    p_enc.set_defaults(func=cmd_encrypt)

    p_csv = sub.add_parser(
        "csv-tokenize", aliases=["CsvTokenizationAndOrderingPipeline"],
        help="CSV in, tokenize, stable-order, sharded CSV out",
    )
    _add_source_flags(p_csv)
    p_csv.add_argument("--dlpEncryptConfigJson", default=None)
    p_csv.add_argument("--scopeColumn", default=None)
    p_csv.add_argument("--rootKeyHex", default=None)
    p_csv.add_argument("--outputDirectory", required=True)
    p_csv.add_argument("--csvFileShardCount", type=int, default=5)
    p_csv.add_argument("--orderingColumns", type=_csv_list, default=None,
                       help="0-based column indexes to order by")
    p_csv.add_argument("--orderingColumnNames", type=_csv_list, default=None)
    p_csv.set_defaults(func=cmd_csv_tokenize)
    return ap


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.func(args)


if __name__ == "__main__":
    sys.exit(main())
