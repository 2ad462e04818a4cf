"""The one sink write driver (pipeline_spark/sinks/drive.py): the row shape
Python writers see, and the same output from batch and streaming input."""

import datetime
import json
import sqlite3

import pytest

from pipeline_spark.config import parse_config
from pipeline_spark.executor import run_pipeline
from pipeline_spark.sinks.drive import write_mutations
from pipeline_spark.testing import read_spool

_CONTRACT_COLUMNS = {
    "id": "int",
    "m": "map<string,int>",
    "s": "struct<a:int,mm:map<string,string>>",
    "arr": "array<struct<x:int,y:string>>",
    "ts": "timestamp",
    "ntz": "timestamp_ntz",
    "bin": "binary",
    "dec": "decimal(12,3)",
    "nm": "map<string,int>",
}
_CONTRACT_ROWS = [
    ["1", "map('k1', 1, 'k2', 2)", "named_struct('a', 7, 'mm', map('x', 'y'))",
     "array(named_struct('x', 1, 'y', 'p'), named_struct('x', 2, 'y', 'q'))",
     "timestamp'2024-03-10 01:30:00'", "timestamp_ntz'2024-03-10 02:30:00'",
     "X'00FF10'", "12345.678", "NULL"],
    ["2", "map()", "named_struct('a', NULL, 'mm', map())", "array()",
     "timestamp'1969-12-31 23:59:59.123456'", "timestamp_ntz'2000-01-01 00:00:00'",
     "X''", "-0.001", "NULL"],
]


@pytest.fixture()
def los_angeles(spark):
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    yield
    spark.conf.set("spark.sql.session.timeZone", prev)


def _contract_frame(spark):
    selects = [
        "SELECT " + ", ".join(
            f"CAST({v} AS {t}) AS {c}" for (c, t), v in zip(_CONTRACT_COLUMNS.items(), row)
        )
        for row in _CONTRACT_ROWS
    ]
    return spark.sql(" UNION ALL ".join(selects))


@pytest.mark.parametrize("streaming", [False, True], ids=["batch", "streaming"])
def test_write_mutations_row_contract(spark, tmp_path, los_angeles, streaming):
    """Writers get ``Row.asDict(recursive=True)``: maps (also inside
    structs) as dicts, a null map as None, arrays of structs as lists of
    dicts, timestamps as naive local datetimes, binary as bytes,
    decimals as Decimal.  An Arrow-based writer would hand maps over as
    (k, v) lists and timestamps tz-aware; this pins the current shape."""
    df = _contract_frame(spark)
    expected = sorted(
        (json.loads(json.dumps(r.asDict(recursive=True), default=str)) for r in df.collect()),
        key=lambda d: d["id"],
    )
    src = df
    if streaming:
        stage = str(tmp_path / "stage")
        df.write.parquet(stage)
        src = spark.readStream.schema(df.schema).parquet(stage)
    spool = str(tmp_path / "spool")
    write_mutations(
        src,
        factory_path="pipeline_spark.testing:fake_writer_client",
        params={"spoolDir": spool},
        batch_size=1,
        to_mutations=lambda d: [{"op": "INSERT", "table": "t", "row": d}],
    )
    got = sorted((m["row"] for m in read_spool(spool)), key=lambda d: d["id"])
    assert got == expected
    one = got[0]
    assert one["m"] == {"k1": 1, "k2": 2} and one["nm"] is None
    assert one["s"] == {"a": 7, "mm": {"x": "y"}}
    assert one["arr"] == [{"x": 1, "y": "p"}, {"x": 2, "y": "q"}]
    # session-zone literal, rendered naive in the Python process's zone
    assert one["ts"] == str(datetime.datetime.fromtimestamp(1710063000))
    assert one["ntz"] == "2024-03-10 02:30:00"
    assert one["bin"] == "b'\\x00\\xff\\x10'" and one["dec"] == "12345.678"


def _sink_case(sink, src_dir, out, streaming):
    """Config of one row-at-a-time sink fed by a json storage source."""
    mode = "\n      mode: streaming" if streaming else ""
    source = f"""
sources:
  - name: src
    module: storage
    parameters:
      format: json
      input: {src_dir}{mode}
    schema:
      fields:
        - {{name: id, type: int64}}
        - {{name: name, type: string}}
        - {{name: content, type: string}}
        - {{name: source, type: string}}
"""
    if sink == "files":
        return source + f"""
sinks:
  - name: out
    module: files
    inputs: [src]
    parameters: {{output: "{out}"}}
"""
    if sink == "copyfile":
        return source + f"""
transforms:
  - name: dst
    module: select
    inputs: [src]
    parameters:
      select:
        - {{name: source, field: source}}
        - {{name: destination, func: text, text: "{out}/${{name}}"}}
sinks:
  - name: out
    module: copyfile
    inputs: [dst]
    parameters: {{}}
"""
    if sink == "text":
        return source + f"""
sinks:
  - name: out
    module: text
    inputs: [src]
    parameters:
      output: "{out}/${{name}}"
      template: "id=${{id}} ${{content}}"
"""
    return source + f"""
sinks:
  - name: out
    module: jdbc
    inputs: [src]
    parameters:
      connectionFactory: "pipeline_spark.testing:sqlite_connection"
      database: "{out}/t.db"
      table: items
"""


def _sink_output(sink, out):
    if sink == "jdbc":
        conn = sqlite3.connect(f"{out}/t.db")
        try:
            return sorted(conn.execute("SELECT id, name, content, source FROM items"))
        finally:
            conn.close()
    return {p.name: p.read_text() for p in out.iterdir()}


@pytest.mark.parametrize("sink", ["files", "copyfile", "text", "jdbc"])
def test_row_sink_streaming_matches_batch(spark, tmp_path, sink):
    """A row-at-a-time sink writes the same output from a streaming
    source (one foreachBatch per micro-batch) as from the batch read of
    the same files."""
    originals = tmp_path / "originals"
    originals.mkdir()
    src_dir = tmp_path / "src"
    src_dir.mkdir()
    for part in range(2):
        rows = []
        for i in range(part * 3, part * 3 + 3):
            (originals / f"o{i}").write_text(f"original {i}")
            rows.append({"id": i, "name": f"f{i}.txt", "content": f"body {i}",
                         "source": str(originals / f"o{i}")})
        (src_dir / f"part{part}.json").write_text("\n".join(json.dumps(r) for r in rows))
    outputs = {}
    for streaming in (False, True):
        out = tmp_path / ("stream" if streaming else "batch")
        out.mkdir()
        if sink == "jdbc":
            conn = sqlite3.connect(out / "t.db")
            conn.execute("CREATE TABLE items (id INTEGER, name TEXT, content TEXT, source TEXT)")
            conn.commit()
            conn.close()
        run_pipeline(spark, parse_config(_sink_case(sink, src_dir, out, streaming)))
        outputs[streaming] = _sink_output(sink, out)
    assert len(outputs[False]) == 6
    assert outputs[True] == outputs[False]
