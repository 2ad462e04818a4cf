"""Property test: puffin deletion-vector roundtrip over arbitrary
position sets — the container framing and the 64-bit roaring codec must
reproduce every input exactly (incl. positions above 2^32, sparse and
dense runs, duplicates collapsing to a set)."""

from hypothesis import given, settings
from hypothesis import strategies as st

from pipeline_spark.functions.puffin import (
    read_dv_positions,
    read_puffin_footer,
    write_puffin_dvs,
)

positions = st.lists(
    st.one_of(
        st.integers(min_value=0, max_value=2**16),          # dense low
        st.integers(min_value=2**31, max_value=2**33),      # around 32-bit
        st.integers(min_value=0, max_value=2**40),          # sparse high
    ),
    min_size=1,
    max_size=400,
)


@settings(max_examples=60, deadline=None)
@given(st.lists(positions, min_size=1, max_size=4))
def test_puffin_dv_roundtrip(tmp_path_factory, blobs):
    path = str(tmp_path_factory.mktemp("puffin") / "dv.puffin")
    dvs = [(f"/data/f{i}.parquet", pos) for i, pos in enumerate(blobs)]
    metas = write_puffin_dvs(path, dvs)
    footer = read_puffin_footer(path)
    assert len(footer["blobs"]) == len(blobs)
    for (ref, pos), m in zip(dvs, metas):
        got = list(read_dv_positions(path, m["offset"], m["length"]))
        assert got == sorted(set(int(x) for x in pos))
        assert m["referenced"] == ref
        assert m["cardinality"] == len(set(pos))


# --- bound codec property (spec Appendix-D single-value serialization) ----

import datetime as dt

from hypothesis import given as _given

from pipeline_spark.sinks.lakefiles import encode_bound
from pipeline_spark.sources.iceberg_native import decode_bound


@settings(max_examples=120, deadline=None)
@_given(
    st.one_of(
        st.tuples(st.just("int"), st.integers(-2**31, 2**31 - 1)),
        st.tuples(st.just("long"), st.integers(-2**63, 2**63 - 1)),
        st.tuples(st.just("double"), st.floats(
            allow_nan=False, allow_infinity=False)),
        st.tuples(st.just("boolean"), st.booleans()),
        st.tuples(st.just("date"), st.dates(
            min_value=dt.date(1800, 1, 1), max_value=dt.date(2300, 1, 1))),
        st.tuples(st.just("timestamp"), st.datetimes(
            min_value=dt.datetime(1800, 1, 1),
            max_value=dt.datetime(2300, 1, 1))),
    )
)
def test_bound_codec_roundtrip(tv):
    t, v = tv
    got = decode_bound(encode_bound(v, t), t)
    if t in ("date", "timestamp"):
        # decode returns ISO strings for lexicographic pruning
        assert got == v.isoformat()
    elif t == "double":
        assert got == v
    else:
        assert got == v


# --- roaring 64-bit codec property incl. BITMAP containers (>4096/chunk) --

import numpy as np

from pipeline_spark.functions.deltadv import (
    roaring_array_deserialize,
    roaring_array_serialize,
)


@settings(max_examples=25, deadline=None)
@_given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2**35),   # run start
            st.integers(min_value=1, max_value=9000),    # run length
        ),
        min_size=1,
        max_size=3,
    )
)
def test_roaring_dense_runs_roundtrip(runs):
    pos = sorted({p for start, n in runs for p in range(start, start + n)})
    blob = roaring_array_serialize(pos)
    got = roaring_array_deserialize(blob)
    assert list(np.asarray(got, dtype="uint64")) == pos
