"""YAML/JSON config lifecycle (K3, config_manager.py:7-177) and the
prompt-template directory registry (prompt_templates.py:60-189)."""

import json
import os
import textwrap

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

FIX = os.path.join(os.path.dirname(__file__), "fixtures")


def _write(path, text):
    path.write_text(textwrap.dedent(text), encoding="utf-8")
    return str(path)


def test_defaults_backfilled(tmp_path):
    from scholarmind_spark.config import load_config

    p = _write(tmp_path / "config.yaml", """
        easyscholar_api_key: k123
        llm:
          enabled: true
          type: VLLM
          vllm_model: mymodel
        """)
    cfg = load_config(p)
    # untouched user values survive the merge
    assert cfg["easyscholar_api_key"] == "k123"
    assert cfg["llm"]["vllm_model"] == "mymodel"
    # defaults back-filled at depth (config_manager.py:47-170)
    assert cfg["llm"]["type"] == "vllm"  # lower-cased
    assert cfg["llm"]["model_parameters"] == {
        "temperature": 0.7, "top_p": 0.9, "max_tokens": 4096,
    }
    assert cfg["journal_metrics"]["enabled"] is True
    assert cfg["journal_metrics"]["metrics_to_fetch"] == []
    assert cfg["processing"]["max_workers"] == 4
    assert cfg["prompt"]["default_type"] == "medical"


def test_partial_nested_merge(tmp_path):
    from scholarmind_spark.config import load_config

    p = _write(tmp_path / "c.yml", """
        llm:
          model_parameters:
            temperature: 0.2
        processing:
          max_workers: 9
        """)
    cfg = load_config(p)
    assert cfg["llm"]["model_parameters"]["temperature"] == 0.2
    assert cfg["llm"]["model_parameters"]["top_p"] == 0.9  # sibling default kept
    assert cfg["processing"]["max_workers"] == 9
    assert cfg["processing"]["batch_size"] == 16


def test_json_config(tmp_path):
    from scholarmind_spark.config import load_config

    p = tmp_path / "config.json"
    p.write_text(json.dumps({"llm": {"enabled": False}}))
    cfg = load_config(str(p))
    assert cfg["llm"]["vllm_api_url"].startswith("http://localhost:8000")


def test_errors(tmp_path):
    from scholarmind_spark.config import ConfigError, load_config

    with pytest.raises(ConfigError):
        load_config(str(tmp_path / "missing.yaml"))
    bad = _write(tmp_path / "bad.yaml", "- just\n- a list\n")
    with pytest.raises(ConfigError):
        load_config(bad)
    # siliconflow enabled without a key raises (config_manager.py:111-113)
    sf = _write(tmp_path / "sf.yaml", """
        llm:
          enabled: true
          type: siliconflow
        """)
    with pytest.raises(ConfigError):
        load_config(sf)


_scalars = st.one_of(st.integers(-10, 10), st.booleans(), st.text(max_size=8))
_config_trees = st.recursive(
    _scalars,
    lambda inner: st.dictionaries(
        st.sampled_from(
            ["llm", "journal_metrics", "processing", "prompt", "model_parameters",
             "enabled", "type", "temperature", "max_workers", "extra_key"]
        ),
        inner,
        max_size=4,
    ),
    max_leaves=12,
)


# suppress too_slow: the recursive tree strategy's generation phase can trip
# the health check on a loaded host (observed mid-suite after 84 Spark tests);
# deadline=None already exempts the property body itself.
@settings(max_examples=50, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.dictionaries(st.sampled_from(
    ["llm", "journal_metrics", "processing", "prompt", "extra_key"]
), _config_trees, max_size=5))
def test_merge_properties(user_config):
    """Defaults back-fill never overwrites a user value at any depth, and
    every default path exists in the result unless the user replaced an
    ancestor with a non-dict."""
    import copy

    from scholarmind_spark.config import CONFIG_DEFAULTS, ConfigError, apply_defaults

    original = copy.deepcopy(user_config)
    try:
        merged = apply_defaults(copy.deepcopy(user_config))
    except (ConfigError, AttributeError, TypeError):
        return  # non-dict llm / non-str type / siliconflow-without-key shapes

    def check_user_preserved(u, m, path=()):
        for k, v in u.items():
            assert k in m
            if isinstance(v, dict) and isinstance(m[k], dict):
                check_user_preserved(v, m[k], path + (k,))
            elif path + (k,) != ("llm", "type"):  # type is lower-cased
                assert m[k] == v, (path, k)

    def check_defaults_present(d, m):
        for k, v in d.items():
            assert k in m
            if isinstance(v, dict) and isinstance(m[k], dict):
                check_defaults_present(v, m[k])

    check_user_preserved(original, merged)
    # defaults only guaranteed under dict-valued sections
    for k, v in CONFIG_DEFAULTS.items():
        if k not in original or isinstance(original.get(k), dict):
            if isinstance(merged.get(k), dict):
                check_defaults_present(
                    {kk: vv for kk, vv in v.items()
                     if kk not in original.get(k, {})
                     or isinstance(original.get(k, {}).get(kk), dict)},
                    merged[k],
                )


def _template_dir(tmp_path):
    d = tmp_path / "prompts"
    d.mkdir()
    _write(d / "medical.yaml", """
        type: medical
        name: medical analysis
        system: You are a medical literature assistant. Reply JSON.
        user_template: "Analyze: {abstract}"
        fields: [ai_summary, research_purpose]
        default_values: {ai_summary: ""}
        """)
    # alias form: system_prompt / user_prompt (prompt_templates.py:149-152)
    _write(d / "agri.yml", """
        type: agriculture
        system_prompt: You are an agronomy assistant.
        user_prompt: "Summarize: {abstract}"
        fields: [ai_summary, crop_species]
        """)
    _write(d / "broken.yaml", "name: no type field here\n")
    _write(d / "notes.txt", "not a template")
    return str(d)


def test_load_templates_dir(tmp_path):
    from scholarmind_spark.llm.templates import get_template, load_templates_dir

    with pytest.warns(UserWarning):  # the type-less file warns, like the reference
        loaded = load_templates_dir(_template_dir(tmp_path))
    assert set(loaded) == {"medical", "agriculture"}
    t = get_template("agriculture")
    assert t.system == "You are an agronomy assistant."
    assert t.user_template == "Summarize: {abstract}"
    msgs = t.messages("ABSTRACT")
    assert msgs[1]["content"] == "Summarize: ABSTRACT"
    # missing dir is a warn + empty mapping, not an error
    with pytest.warns(UserWarning):
        assert load_templates_dir(str(tmp_path / "nope")) == {}


def test_config_drives_pipeline(spark, tmp_path):
    """A reference-style config.yaml runs the full pipeline: template picked
    from templates_dir by prompt.default_type, mock LLM client from llm
    section, max_workers from processing."""
    from scholarmind_spark.config import load_config, pipeline_config_from
    from scholarmind_spark.pipeline import run_pipeline
    from scholarmind_spark.util import release_caches

    tdir = _template_dir(tmp_path)
    p = _write(tmp_path / "config.yaml", f"""
        llm:
          enabled: true
          type: mock
        processing:
          max_workers: 2
        prompt:
          default_type: agriculture
          templates_dir: {tdir}
        """)
    config = load_config(p)
    cfg = pipeline_config_from(
        config, spark=spark, sources={"pubmed": f"{FIX}/pubmed.txt"}
    )
    assert cfg.llm_max_workers == 2
    assert cfg.llm_template.type == "agriculture"
    df = run_pipeline(spark, cfg)
    out = df.collect()
    release_caches(df)  # the LLM map's checkpoint
    assert len(out) > 0
    row = out[0].asDict()
    assert "crop_species" in row and row["crop_species"]


def test_cli_with_config(spark, tmp_path):
    from scholarmind_spark.cli import main

    tdir = _template_dir(tmp_path)
    p = _write(tmp_path / "config.yaml", f"""
        llm:
          enabled: true
          type: mock
        prompt:
          default_type: medical
          templates_dir: {tdir}
        """)
    out = str(tmp_path / "corpus")
    rc = main([
        "--config", p,
        "--pubmed", f"{FIX}/pubmed.txt",
        "--output", out,
    ])
    assert rc == 0
    df = spark.read.parquet(out)
    assert "research_purpose" in df.columns
    # --prompt-type overrides the config's default_type
    out2 = str(tmp_path / "corpus2")
    rc = main([
        "--config", p,
        "--prompt-type", "agriculture",
        "--pubmed", f"{FIX}/pubmed.txt",
        "--output", out2,
    ])
    assert rc == 0
    assert "crop_species" in spark.read.parquet(out2).columns
