"""The stream-query scaffold in ``__spark_entry__.py``: ``_stream_case``
owns each query's temp dir (staged input, checkpoint, sink) and removes
it on exit, on success or on error; committed rows survive in an
adopted keep dir outside it."""

import glob
import os
import tempfile

import pandas as pd
import pytest

import __spark_entry__ as entry_mod
from auto_data_tokenize_spark.streaming.ingest import AdmissionGate
from auto_data_tokenize_spark.streaming.sink import ExactlyOnceSink


def _case_dirs(name: str) -> set[str]:
    return set(glob.glob(os.path.join(tempfile.gettempdir(), f"adt_{name}_*")))


def _pdf(n: int = 40) -> pd.DataFrame:
    return pd.DataFrame({"doc_id": range(n), "v": [i * i for i in range(n)]})


def test_case_dir_removed_when_body_raises(spark):
    before = _case_dirs("scaffold_body_raises")
    with pytest.raises(RuntimeError, match="body failed"):
        with entry_mod._stream_case(spark, "scaffold_body_raises") as case:
            seen = case.dir
            case.stage(_pdf(), "doc_id long, v long")
            assert os.listdir(seen) == ["in"]
            raise RuntimeError("body failed")
    assert not os.path.exists(seen)
    assert _case_dirs("scaffold_body_raises") == before


def test_case_dir_removed_when_gate_admit_raises(spark):
    from pyspark.errors import StreamingQueryException

    class FailingGate(AdmissionGate):
        def __init__(self, sink):
            self.sink = sink

        def admit(self, batch_df):
            raise ValueError("admit failed on purpose")

    before = _case_dirs("scaffold_admit_raises")
    keep_before = list(entry_mod._STREAM_KEEP)
    with pytest.raises(StreamingQueryException, match="admit failed on purpose"):
        with entry_mod._stream_case(spark, "scaffold_admit_raises") as case:
            seen = case.dir
            st = case.stage(_pdf(), "doc_id long, v long")
            with FailingGate(case.sink()) as gate:
                case.run(st, gate)
    assert not os.path.exists(seen)
    assert _case_dirs("scaffold_admit_raises") == before
    # the run failed before adoption: no keep dir was made for it
    assert entry_mod._STREAM_KEEP == keep_before


def test_case_returns_committed_rows_outside_the_case_dir(spark):
    """Every row the sink committed comes back through the adopted
    reader, from files that outlive the removed case dir; 8 staged
    files at 2 per trigger make 4 micro-batches."""

    class RecordingGate(AdmissionGate):
        def __init__(self, sink):
            self.sink = sink
            self.batches: dict[int, list[tuple]] = {}

        def foreach_batch(self, batch_df, batch_id):
            self.batches[batch_id] = [tuple(r) for r in batch_df.collect()]
            super().foreach_batch(batch_df, batch_id)

        def admit(self, batch_df):
            return batch_df

    pdf = _pdf()
    before = _case_dirs("scaffold_ok")
    with entry_mod._stream_case(spark, "scaffold_ok") as case:
        seen = case.dir
        st = case.stage(pdf, "doc_id long, v long")
        with RecordingGate(case.sink()) as gate:
            result = case.run(st, gate)
    assert not os.path.exists(seen)
    assert _case_dirs("scaffold_ok") == before
    files = result.inputFiles()
    assert files and not any(seen in f for f in files)
    assert sorted(gate.batches) == [0, 1, 2, 3]
    committed = sorted(r for rows in gate.batches.values() for r in rows)
    got = sorted(tuple(r) for r in result.select("doc_id", "v").collect())
    assert got == committed == sorted(zip(pdf["doc_id"], pdf["v"]))


def test_adopt_refuses_iceberg_sink(spark, tmp_path):
    sink = ExactlyOnceSink(
        str(tmp_path / "t"), use_iceberg=True, iceberg_table="cat.db.t"
    )
    with pytest.raises(ValueError, match="Iceberg"):
        entry_mod._adopt_sink_output(spark, sink)
    # refused before anything moved
    assert os.path.isdir(sink.table_path)
