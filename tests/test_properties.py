"""Property tests (SURVEY.md §5.3): cleaning idempotence, language-
default totality, dedup stability, renderer determinism — over
hypothesis-generated record batches.

Example counts are small: every example round-trips through Spark.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from medical_examination_data_etl_system_spark.pipeline import process_records
from medical_examination_data_etl_system_spark.pipeline.clean import postprocess_multilang
from medical_examination_data_etl_system_spark.pipeline.enrich import enrich
from medical_examination_data_etl_system_spark.pipeline.ingest import flatten, records_to_df
from medical_examination_data_etl_system_spark.schemas import SUBSET

_TEXT = st.text(
    alphabet="abcXYZ 範例（）\r\n：，。", min_size=0, max_size=12
)

_FINDING = st.fixed_dictionaries(
    {"DIAG_CODE": st.sampled_from(["D1", "D2", " D1 "]), "COMMENT": _TEXT}
)
_ITEM = st.fixed_dictionaries(
    {
        "ITEM_CODE": st.sampled_from(["I001", "I002", "I003"]),
        "FINDINGS": st.lists(_FINDING, min_size=0, max_size=3),
    }
)
_RECORD = st.builds(
    lambda rid, lang, items: {
        "RECORD_ID": rid,
        "LANG_NO": lang,
        "ORG_ID": "OrgA",
        "ITEMS": items,
    },
    rid=st.sampled_from(["R1", "R2", "R3"]),
    lang=st.sampled_from(["1", "2", "3", "4"]),
    items=st.lists(_ITEM, min_size=1, max_size=3),
)
_BATCH = st.lists(_RECORD, min_size=1, max_size=3, unique_by=lambda r: r["RECORD_ID"])

_SETTINGS = settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)


def _cleaned(spark, records):
    flat = flatten(records_to_df(spark, records))
    return postprocess_multilang(enrich(flat, {}))


@given(records=_BATCH)
@_SETTINGS
def test_cleaning_idempotent_and_total(spark, records):
    cleaned = _cleaned(spark, records)
    once = cleaned.select(*SUBSET).orderBy("RECORD_ID", "ord")
    twice = postprocess_multilang(cleaned).select(*SUBSET).orderBy("RECORD_ID", "ord")
    assert once.collect() == twice.collect()

    # F6 totality: no empty SUMMARY/GROUP name columns survive cleaning.
    for col in (
        "TCNAME_SUMMARY", "ENNAME_SUMMARY", "JPNAME_SUMMARY", "SCNAME_SUMMARY",
        "TCNAME_GROUP", "ENNAME_GROUP", "JPNAME_GROUP", "SCNAME_GROUP",
    ):
        assert cleaned.filter(F.col(col) == "").count() == 0, col


@given(records=_BATCH)
@_SETTINGS
def test_renderer_deterministic(spark, records):
    a = {r["record_id"]: r["report"] for r in process_records(spark, records).collect()}
    b = {r["record_id"]: r["report"] for r in process_records(spark, records).collect()}
    assert a == b


# ---------------------------------------------------------------------------
# CDC merge / SCD2 properties (operators/merge.py)
# ---------------------------------------------------------------------------

_CHANGE = st.builds(
    lambda k, seq, op, v: {"k": k, "seq": seq, "op": op, "v": v},
    k=st.integers(min_value=0, max_value=5),
    seq=st.integers(min_value=0, max_value=20),
    op=st.sampled_from(["U", "D"]),
    v=st.sampled_from(["a", "b", "c"]),
)
_CHANGES = st.lists(_CHANGE, min_size=1, max_size=12, unique_by=lambda c: (c["k"], c["seq"]))


@given(changes=_CHANGES)
@_SETTINGS
def test_apply_changes_matches_sequential_fold(spark, changes):
    """The distributed MERGE equals the obvious sequential semantics:
    replay changes in seq order per key over a dict."""
    from medical_examination_data_etl_system_spark.operators.merge import apply_changes

    base_rows = [{"k": k, "v": "base"} for k in (0, 1, 2)]
    state = {r["k"]: r["v"] for r in base_rows}
    for c in sorted(changes, key=lambda c: (c["k"], c["seq"])):
        if c["op"] == "D":
            state.pop(c["k"], None)
        else:
            state[c["k"]] = c["v"]

    base = spark.createDataFrame(base_rows, "k int, v string")
    ch = spark.createDataFrame(changes, "k int, seq int, op string, v string").select(
        "k", "v", "seq", "op"
    )
    got = {r.k: r.v for r in apply_changes(base, ch, "k", "seq").collect()}
    assert got == state


_LOG = st.lists(
    st.builds(
        lambda k, t, s: {"k": k, "t": t, "s": s},
        k=st.integers(min_value=0, max_value=2),
        t=st.integers(min_value=0, max_value=30),
        s=st.sampled_from(["A", "B", None]),
    ),
    min_size=1,
    max_size=12,
    unique_by=lambda r: (r["k"], r["t"]),
)


@given(log=_LOG)
@_SETTINGS
def test_scd2_intervals_partition_each_keys_timeline(spark, log):
    """Collapsed SCD2 output is a valid history: per key, intervals are
    adjacent (valid_to == next valid_from), non-overlapping, start at
    the key's first event, exactly one open current row, and replaying
    the intervals recovers the state at every logged timestamp."""
    from medical_examination_data_etl_system_spark.operators.merge import scd2_intervals

    df = spark.createDataFrame(log, "k int, t int, s string")
    out = scd2_intervals(df, "k", "t", ["s"]).collect()

    by_key: dict[int, list] = {}
    for r in sorted(out, key=lambda r: (r.k, r.valid_from)):
        by_key.setdefault(r.k, []).append(r)
    logged: dict[int, list] = {}
    for e in sorted(log, key=lambda e: (e["k"], e["t"])):
        logged.setdefault(e["k"], []).append(e)

    assert set(by_key) == set(logged)
    for k, ivs in by_key.items():
        assert ivs[0].valid_from == logged[k][0]["t"]  # starts at first event
        assert sum(1 for r in ivs if r.is_current) == 1 and ivs[-1].is_current
        for a, b in zip(ivs, ivs[1:]):
            assert a.valid_to == b.valid_from  # adjacent, no gap/overlap
            assert a.s != b.s or (a.s is None) != (b.s is None)  # real change
        # replay: the interval containing each event's t carries its state
        for e in logged[k]:
            holder = [r for r in ivs
                      if r.valid_from <= e["t"] and (r.valid_to is None or e["t"] < r.valid_to)]
            assert len(holder) == 1 and holder[0].s == e["s"]
