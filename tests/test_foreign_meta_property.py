"""Foreign-metadata robustness fuzz (r12, VERDICT r11 stretch #7):
random omission/nulling of INHERITABLE manifest fields — per-file
first_row_id (manifest field-id 142), manifest-list first_row_id
(field-id 520), snapshot first-row-id, entry sequence numbers,
record_count, and partition records in all three foreign shapes
(absent / empty / all-null) — across multi-snapshot v3 tables.

Contract under every mutation: the read either MATCHES the oracle
(derived ids identical to the explicit baseline, sequence numbers
reconstructed, rows byte-equal) or refuses/degrades LOUDLY (ids null —
never a wrong id, never an overlapping range; a clear exception —
never silently wrong rows).  r11's inheritance walk and the
unpartitioned-spec delete fix both came from exactly this corner
class; this suite generates ≥200 such tables."""

import json
import os
import random
import shutil

import pytest

from pipeline_spark.functions.avroocf import (
    read_ocf_file,
    read_ocf_file_with_meta,
    write_ocf_bytes,
)
from pipeline_spark.sinks.iceberg_native import write_iceberg_native
from pipeline_spark.sources.iceberg_native import (
    _strip_scheme,
    load_table_metadata,
    plan_files,
    read_iceberg_native,
)

pytestmark = pytest.mark.slow  # property fuzz suite: fast-tier deselects (r16)


def _mk_multi_snapshot_v3(spark, base_dir, name, *, partition=False):
    tbl = os.path.join(base_dir, name)
    rows = [(i, f"v{i}", "ab"[i % 2]) for i in range(6)]
    df = spark.createDataFrame(rows, "id long, v string, par string")
    p = {"path": tbl, "mode": "create",
         "properties": {"format-version": "3"}}
    if partition:
        p["partitionBy"] = ["par"]
    write_iceberg_native(df.coalesce(2), p)
    for lo in (6, 12):
        more = [(i, f"v{i}", "ab"[i % 2]) for i in range(lo, lo + 6)]
        ap = {"path": tbl, "mode": "append"}
        if partition:
            ap["partitionBy"] = ["par"]
        write_iceberg_native(
            spark.createDataFrame(
                more, "id long, v string, par string").coalesce(2),
            ap,
        )
    return tbl


def _manifest_paths(tbl):
    meta = load_table_metadata(tbl)
    out = set()
    ml_paths = set()
    for snap in meta.get("snapshots") or []:
        mlp = _strip_scheme(snap["manifest-list"])
        ml_paths.add(mlp)
        _, mans = read_ocf_file(mlp)
        for m in mans:
            out.add(_strip_scheme(m["manifest_path"]))
    # sorted: iteration order feeds the seeded rng — keep runs
    # reproducible per seed
    return sorted(out), sorted(ml_paths)


def _rewrite_ocf(path, mutate_rows, mutate_schema=None):
    schema_json, ometa, recs = read_ocf_file_with_meta(path)
    rows = list(recs)
    _nullablize(schema_json, _NULLABLE_FIELDS)
    if mutate_schema:
        mutate_schema(schema_json)
    mutate_rows(rows)
    extra = {
        k: v.decode() for k, v in ometa.items()
        if k not in ("avro.schema", "avro.codec")
    }
    with open(path, "wb") as fh:
        fh.write(write_ocf_bytes(schema_json, rows, extra_meta=extra))


def _nullablize(schema_json, names):
    """Wrap the named fields (top-level or data_file.*) in a null union
    so a foreign writer's omitted value is writable."""
    def _wrap(f):
        if f["name"] in names and not isinstance(f["type"], list):
            f["type"] = ["null", f["type"]]

    for f in schema_json.get("fields", []):
        _wrap(f)
        if f["name"] == "data_file":
            t = f["type"] if isinstance(f["type"], dict) else next(
                x for x in f["type"] if isinstance(x, dict))
            for df_f in t.get("fields", []):
                _wrap(df_f)


_NULLABLE_FIELDS = {
    "sequence_number", "file_sequence_number", "record_count",
    "first_row_id",
}


def _latest_meta_file(tbl):
    mdir = os.path.join(tbl, "metadata")
    return os.path.join(mdir, sorted(
        f for f in os.listdir(mdir) if f.endswith(".metadata.json")
    )[-1])


@pytest.fixture(scope="module")
def lineage_base(spark, tmp_path_factory):
    base_dir = str(tmp_path_factory.mktemp("fuzzbase"))
    tbl = _mk_multi_snapshot_v3(spark, base_dir, "lin")
    data, dels, _ = plan_files(tbl)
    baseline = {
        d["path"]: (d["seq"], d.get("first_row_id"), d.get("record_count"))
        for d in data
    }
    rows = sorted(
        (r["id"], r["v"], r["_row_id"])
        for r in read_iceberg_native(
            spark, {"path": tbl, "withRowIds": True}).collect()
    )
    bak = os.path.join(base_dir, "bak")
    shutil.copytree(os.path.join(tbl, "metadata"), bak)
    return tbl, bak, baseline, rows


def _restore(tbl, bak):
    mdir = os.path.join(tbl, "metadata")
    shutil.rmtree(mdir)
    shutil.copytree(bak, mdir)


def _fuzz_lineage_once(spark, tbl, bak, baseline, base_rows, seed,
                       *, full_read):
    rng = random.Random(seed)
    _restore(tbl, bak)
    mans, mls = _manifest_paths(tbl)

    stripped_rc = False       # record_count removed somewhere
    stripped_snap_frid = False
    stripped_ml_frid = False

    # (1) per-file first_row_id: null on a random subset of entries
    if rng.random() < 0.9:
        def strip_frid(rows):
            for r in rows:
                df = r.get("data_file") or {}
                if df.get("first_row_id") is not None and rng.random() < 0.7:
                    df["first_row_id"] = None
        for mp in mans:
            _rewrite_ocf(mp, strip_frid)

    # (2) manifest-list first_row_id: null on a random subset
    if rng.random() < 0.5:
        stripped_ml_frid = True
        def strip_ml(rows):
            for m in rows:
                if rng.random() < 0.6:
                    m["first_row_id"] = None
        for mlp in mls:
            _rewrite_ocf(mlp, strip_ml)

    # (3) entry sequence numbers: null where the manifest-list seq
    # reconstructs them (spec inheritance)
    if rng.random() < 0.5:
        for mlp in mls:
            _, mans_recs = read_ocf_file(mlp)
            seq_of = {
                _strip_scheme(m["manifest_path"]): m.get("sequence_number")
                for m in mans_recs
            }
            for mp, mseq in seq_of.items():
                if mseq is None:
                    continue
                def strip_seq(rows, _mseq=mseq):
                    for r in rows:
                        if (
                            r.get("sequence_number") == _mseq
                            and r.get("status") == 1
                            and rng.random() < 0.7
                        ):
                            r["sequence_number"] = None
                _rewrite_ocf(mp, strip_seq)

    # (4) record_count: drop from a random ADDED entry (stops id
    # derivation past it — nulls allowed, wrong ids are not)
    if rng.random() < 0.25:
        stripped_rc = True
        def strip_rc(rows):
            for r in rows:
                df = r.get("data_file") or {}
                if df.get("record_count") is not None and rng.random() < 0.4:
                    df["record_count"] = None
        for mp in mans:
            _rewrite_ocf(mp, strip_rc)

    # (5) snapshot first-row-id: drop from the table metadata
    if rng.random() < 0.2:
        stripped_snap_frid = True
        mf = _latest_meta_file(tbl)
        with open(mf) as fh:
            m = json.load(fh)
        for snap in m.get("snapshots") or []:
            if rng.random() < 0.6:
                snap.pop("first-row-id", None)
        with open(mf, "w") as fh:
            json.dump(m, fh)

    data, _dels, _meta = plan_files(tbl)
    # sequence numbers and the file set must ALWAYS reconstruct
    assert {d["path"] for d in data} == set(baseline), seed
    for d in data:
        bseq, bfrid, brc = baseline[d["path"]]
        assert d["seq"] == bseq, (seed, d["path"], d["seq"], bseq)
        frid = d.get("first_row_id")
        # ids: equal to the explicit baseline or null — NEVER wrong
        assert frid is None or frid == bfrid, (
            seed, d["path"], frid, bfrid)
    # no overlapping assigned ranges among non-null ids
    spans = sorted(
        (d["first_row_id"],
         d["first_row_id"] + (d.get("record_count") or 0))
        for d in data if d.get("first_row_id") is not None
    )
    for (a1, b1), (a2, _b2) in zip(spans, spans[1:]):
        assert b1 <= a2, (seed, spans)
    # when nothing broke the derivation chain, inheritance must fully
    # reconstruct the explicit assignment
    if not (stripped_rc or stripped_snap_frid or stripped_ml_frid):
        for d in data:
            assert d.get("first_row_id") == baseline[d["path"]][1], (
                seed, d["path"])
    if full_read:
        got = sorted(
            (r["id"], r["v"], r["_row_id"])
            for r in read_iceberg_native(
                spark, {"path": tbl, "withRowIds": True}).collect()
        )
        if not (stripped_rc or stripped_snap_frid or stripped_ml_frid):
            assert got == base_rows, seed
        else:
            # degraded ids may be null; values must never be wrong
            assert [(i, v) for i, v, _ in got] == [
                (i, v) for i, v, _ in base_rows], seed
            for (i, v, rid), (_, _, brid) in zip(got, base_rows):
                assert rid is None or rid == brid, (seed, i, rid, brid)


def test_fuzz_lineage_inheritance(spark, lineage_base):
    """140 random foreign-writer mutations of lineage/sequence metadata
    on a 3-snapshot v3 table; every 20th also oracle-checks the full
    Spark read."""
    tbl, bak, baseline, rows = lineage_base
    for seed in range(140):
        _fuzz_lineage_once(
            spark, tbl, bak, baseline, rows, seed,
            full_read=(seed % 20 == 0),
        )
    _restore(tbl, bak)


@pytest.fixture(scope="module")
def part_base(spark, tmp_path_factory):
    base_dir = str(tmp_path_factory.mktemp("fuzzpart"))
    tbl = _mk_multi_snapshot_v3(spark, base_dir, "part", partition=True)
    rows = sorted(
        (r["id"], r["v"])
        for r in read_iceberg_native(spark, {"path": tbl}).collect()
    )
    bak = os.path.join(base_dir, "bak")
    shutil.copytree(os.path.join(tbl, "metadata"), bak)
    return tbl, bak, rows


def _null_partition_schema(schema_json):
    """Make data_file.partition nullable in the manifest avro schema so
    the 'absent record' foreign shape is writable."""
    for f in schema_json["fields"]:
        if f["name"] != "data_file":
            continue
        t = f["type"] if isinstance(f["type"], dict) else next(
            x for x in f["type"] if isinstance(x, dict))
        for df_f in t["fields"]:
            if df_f["name"] == "partition" and not isinstance(
                    df_f["type"], list):
                df_f["type"] = ["null", df_f["type"]]


def test_fuzz_partition_record_shapes(spark, part_base):
    """80 random mutations of data-manifest partition records on a
    PARTITIONED v3 table, covering all three foreign shapes (absent /
    empty / all-null): the read must return the baseline non-partition
    values (identity fill may degrade the partition column to null for
    nulled records) or refuse with a clear error — never silently wrong
    data rows."""
    tbl, bak, base_rows = part_base
    for seed in range(80):
        rng = random.Random(1000 + seed)
        _restore(tbl, bak)
        mans, _mls = _manifest_paths(tbl)
        shape = rng.choice(["absent", "empty", "all_null", "mixed"])

        def mutate(rows):
            for r in rows:
                df = r.get("data_file") or {}
                if "partition" not in df or rng.random() >= 0.7:
                    continue
                sh = (
                    rng.choice(["absent", "empty", "all_null"])
                    if shape == "mixed" else shape
                )
                if sh == "absent":
                    df["partition"] = None
                elif sh == "empty":
                    df["partition"] = {}
                else:
                    df["partition"] = {
                        k: None for k in (df.get("partition") or {})
                    }

        for mp in mans:
            _rewrite_ocf(mp, mutate, mutate_schema=_null_partition_schema)
        try:
            got = sorted(
                (r["id"], r["v"])
                for r in read_iceberg_native(spark, {"path": tbl}).collect()
            )
        except Exception:
            continue  # loud refusal is within the contract
        assert got == base_rows, (seed, shape)
    _restore(tbl, bak)
