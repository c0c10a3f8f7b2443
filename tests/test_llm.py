"""U1/U2/D12: template registry, parse fallback ladder, one-call-per-key LLM map."""

from __future__ import annotations

import json

import pytest

from scholarmind_spark.llm import (
    MEDICAL,
    MockLLMClient,
    PromptTemplate,
    llm_extract,
    load_template_yaml,
    parse_llm_response,
)
from scholarmind_spark.util import release_caches

T = PromptTemplate(
    type="t",
    name="t",
    system="s",
    user_template="{abstract}",
    fields=("ai_summary", "research_purpose"),
    default_values={"ai_summary": "", "research_purpose": "未明确描述"},
)


def test_parse_fenced_json():
    r = parse_llm_response('```json\n{"ai_summary": "a", "research_purpose": "b"}\n```', T)
    assert r == {"ai_summary": "a", "research_purpose": "b"}


def test_parse_bare_json():
    r = parse_llm_response('{"ai_summary": "a"}', T)
    assert r == {"ai_summary": "a", "research_purpose": "未明确描述"}


def test_parse_json_in_prose():
    r = parse_llm_response('Sure! {"research_purpose": "find stuff"} hope that helps', T)
    assert r["research_purpose"] == "find stuff"


def test_parse_field_fragments():
    r = parse_llm_response('"ai_summary": "frag a"\n"research_purpose": "frag b"\n', T)
    assert r == {"ai_summary": "frag a", "research_purpose": "frag b"}


def test_parse_prose_fallback_to_summary():
    r = parse_llm_response("just a plain prose answer", T)
    assert r["ai_summary"] == "just a plain prose answer"
    assert r["research_purpose"] == "未明确描述"


def test_parse_garbage_and_none():
    assert parse_llm_response("", T)["research_purpose"] == "未明确描述"
    assert parse_llm_response(None, T)["ai_summary"] == ""


def test_template_yaml_roundtrip():
    t = load_template_yaml(
        "type: yamltest\nfields:\n  - ai_summary\n  - x\ndefault_values:\n  x: dx\n"
    )
    assert t.fields == ("ai_summary", "x")
    assert t.default_for("x") == "dx"
    assert t.default_for("ai_summary") == ""
    assert [f.name for f in t.output_schema().fields] == ["ai_summary", "x"]


def _extract(df, client, **kw):
    """The rows of one llm_extract result; its checkpoint is freed, so no
    test leaves persistent RDDs for later tests to count."""
    out = llm_extract(df, MEDICAL, client, **kw)
    try:
        return out.collect()
    finally:
        release_caches(out)


def test_llm_extract_keyed_join(spark):
    df = spark.createDataFrame(
        [(10, "abstract ten"), (20, None), (30, "abstract thirty")],
        "record_id long, abstract string",
    )
    client = MockLLMClient(fields=MEDICAL.fields, mode="json")
    out = _extract(df, client)
    rows = {r.record_id: r for r in out}
    assert set(rows) == {10, 20, 30}
    # null abstract → defaults, no call
    assert rows[20].research_purpose == "未明确描述"
    # deterministic mock: same input → same output, keyed not positional
    expected = json.loads(client(MEDICAL.messages("abstract ten")))
    assert rows[10].research_purpose == expected["research_purpose"]
    assert rows[10].abstract == "abstract ten"


def test_llm_extract_cycle_modes_all_parse(spark):
    df = spark.createDataFrame(
        [(i, f"abstract number {i}") for i in range(24)],
        "record_id long, abstract string",
    )
    client = MockLLMClient(fields=MEDICAL.fields)
    out = _extract(df, client)
    assert len(out) == 24
    for r in out:
        assert r.research_purpose  # never null/empty: value or default


def _counting_client(spark, fields):
    """A mock client that counts its calls in an accumulator (use with
    ``max_workers=1``: Accumulator.add is not thread-safe in a worker)."""
    calls = spark.sparkContext.accumulator(0)
    mock = MockLLMClient(fields=fields, mode="json")

    def client(messages):
        calls.add(1)
        return mock(messages)

    return client, calls


def test_llm_extract_one_call_per_key_across_partitions(spark):
    # 6 keys, each repeated 5 times, spread round-robin over 5 partitions:
    # every key's copies start in different partitions
    df = spark.createDataFrame(
        [(i % 6, f"abstract {i % 6}") for i in range(30)],
        "record_id long, abstract string",
    ).repartition(5)
    client, calls = _counting_client(spark, MEDICAL.fields)
    out = _extract(df, client, max_workers=1)
    assert calls.value == 6
    assert len(out) == 30  # one output row per input row
    want = {
        k: json.loads(MockLLMClient(fields=MEDICAL.fields, mode="json")(
            MEDICAL.messages(f"abstract {k}")))["ai_summary"]
        for k in range(6)
    }
    assert all(r.ai_summary == want[r.record_id] for r in out)


def test_llm_extract_null_key_rows_answer_alone(spark):
    """A null key shares with no row: each null-key row gets the answer to
    its own abstract (one call each), or the defaults without a call when
    its abstract is null."""
    df = spark.createDataFrame(
        [(None, "first"), (None, "second"), (None, None), (1, "keyed"), (1, "keyed")],
        "record_id long, abstract string",
    )
    client, calls = _counting_client(spark, MEDICAL.fields)
    out = _extract(df, client, max_workers=1)
    assert calls.value == 3  # "first", "second", and key 1 once
    mock = MockLLMClient(fields=MEDICAL.fields, mode="json")
    got = sorted((r.abstract or "", r.ai_summary) for r in out if r.record_id is None)
    assert got == [
        ("", MEDICAL.default_for("ai_summary")),
        ("first", json.loads(mock(MEDICAL.messages("first")))["ai_summary"]),
        ("second", json.loads(mock(MEDICAL.messages("second")))["ai_summary"]),
    ]


def test_llm_extract_release_frees_checkpoint(spark):
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    df = spark.createDataFrame([(1, "a"), (2, "b")], "record_id long, abstract string")
    out = llm_extract(df, MEDICAL, MockLLMClient(fields=MEDICAL.fields, mode="json"))
    out.collect()
    assert set(jsc.getPersistentRDDs().keySet()) - before  # the checkpoint
    release_caches(out)
    assert set(jsc.getPersistentRDDs().keySet()) - before == set()


def test_llm_extract_plan_digest_sees_through_checkpoint(spark):
    from scholarmind_spark.plans import plan_digest
    from scholarmind_spark.util import carry_caches

    df = spark.createDataFrame([(1, "a"), (2, "b")], "record_id long, abstract string")
    out = llm_extract(df, MEDICAL, MockLLMClient(fields=MEDICAL.fields, mode="json"))
    # the checkpoint itself plans as one LogicalRDD scan; the digest also
    # counts the repartition Exchange and the MapInArrow behind it (an
    # adaptive plan that already ran its shuffle lists both its initial and
    # its final plan, so each node may count twice)
    d = plan_digest(out)
    assert d["python_stages"] >= 1 and d["exchanges"] >= 1
    wrapped = plan_digest(carry_caches(out, out.select("record_id")))
    assert (wrapped["python_stages"], wrapped["exchanges"]) == (d["python_stages"], d["exchanges"])
    plain = out.select("record_id")  # untagged wrapper: the digest stops at the scan
    assert plan_digest(plain)["python_stages"] == plan_digest(plain)["exchanges"] == 0
    release_caches(out)


def test_template_fields_must_be_string_list():
    import pytest

    from scholarmind_spark.llm.templates import load_template_yaml

    with pytest.raises(ValueError, match="list of names"):
        load_template_yaml("type: t1\nfields: summary\n")  # scalar typo
    with pytest.raises(ValueError, match="non-empty strings"):
        load_template_yaml("type: t2\nfields: [1, 2]\n")
    with pytest.raises(ValueError, match="non-empty strings"):
        load_template_yaml("type: t3\nfields: []\n")
