"""Pipeline config validation — the D3/D4/D8 fail-fast checks
(reference panics on bad graphs, /root/reference/src/dag_schedule/
schedule.rs:118-138; task selection via YAML, configuration/base.yaml)."""

import json

import pytest

from data_collector_spark.crawler.config import (
    PipelineConfigError,
    load_pipeline,
    validate_pipeline,
)


def make_doc(tmp_path, **over):
    (tmp_path / "pages").mkdir(exist_ok=True)
    (tmp_path / "seeds").mkdir(exist_ok=True)
    doc = {
        "crawl": {"max_rounds": 3, "default_budget": 2, "retry_max": 1},
        "inputs": {"pages": str(tmp_path / "pages"), "seeds": str(tmp_path / "seeds")},
        "workdir": str(tmp_path / "wd"),
    }
    doc.update(over)
    return doc


def test_valid_roundtrip_json_and_yaml(tmp_path):
    doc = make_doc(tmp_path)
    p = tmp_path / "cfg.json"
    p.write_text(json.dumps(doc))
    cfg, inputs, wd = load_pipeline(str(p))
    assert cfg.max_rounds == 3 and cfg.retry_max == 1
    assert inputs["pages"].endswith("pages")

    y = tmp_path / "cfg.yaml"
    y.write_text(
        "crawl:\n  max_rounds: 3\n  default_budget: 2\n  retry_max: 1\n"
        f"inputs:\n  pages: {doc['inputs']['pages']}\n  seeds: {doc['inputs']['seeds']}\n"
        f"workdir: {doc['workdir']}\n"
    )
    cfg2, _, _ = load_pipeline(str(y))
    assert cfg2 == cfg


def test_layered_overrides_precedence(tmp_path):
    """base < overlay file < DCS__* env vars — mirrors base.yaml <
    {env}.yaml < APP_* in configuration.rs:125-157."""
    doc = make_doc(tmp_path)
    base = tmp_path / "base.json"
    base.write_text(json.dumps(doc))
    overlay = tmp_path / "prod.json"
    overlay.write_text(json.dumps({"crawl": {"max_rounds": 7, "retry_max": 2}}))

    # overlay alone: deep-merged, untouched keys survive
    cfg, _, _ = load_pipeline(str(base), overlay_path=str(overlay))
    assert cfg.max_rounds == 7 and cfg.retry_max == 2 and cfg.default_budget == 2

    # env beats overlay; scalars parse as JSON, strings stay strings
    cfg2, _, wd2 = load_pipeline(
        str(base),
        overlay_path=str(overlay),
        environ={
            "DCS__crawl__max_rounds": "9",
            "DCS__crawl__use_bloom": "false",
            "DCS__workdir": str(tmp_path / "wd_env"),
            "UNRELATED": "ignored",
        },
    )
    assert cfg2.max_rounds == 9 and cfg2.use_bloom is False
    assert cfg2.retry_max == 2  # overlay value survives under env layer
    assert wd2.endswith("wd_env")


def test_env_override_unknown_key_fails_fast(tmp_path):
    doc = make_doc(tmp_path)
    base = tmp_path / "b.json"
    base.write_text(json.dumps(doc))
    with pytest.raises(PipelineConfigError, match="unknown crawl keys"):
        load_pipeline(str(base), environ={"DCS__crawl__nope": "1"})


def test_env_override_type_and_shape_violations_fail_fast(tmp_path):
    doc = make_doc(tmp_path)
    base = tmp_path / "b2.json"
    base.write_text(json.dumps(doc))
    # descending through a scalar node (workdir is a string)
    with pytest.raises(PipelineConfigError, match="non-mapping"):
        load_pipeline(str(base), environ={"DCS__workdir__x": "1"})
    # Python-spelled booleans stay strings — must be rejected, not truthy
    with pytest.raises(PipelineConfigError, match="crawl.use_bloom"):
        load_pipeline(str(base), environ={"DCS__crawl__use_bloom": "False"})
    # int field given a string
    with pytest.raises(PipelineConfigError, match="crawl.max_rounds"):
        load_pipeline(str(base), environ={"DCS__crawl__max_rounds": "lots"})
    # workdir replaced by a non-string
    with pytest.raises(PipelineConfigError, match="workdir"):
        load_pipeline(str(base), environ={"DCS__workdir": "123"})


@pytest.mark.parametrize(
    "mutate,msg",
    [
        (lambda d: d["crawl"].update(bogus=1), "unknown crawl keys"),
        # a deleted knob fails fast instead of being silently ignored
        (lambda d: d["crawl"].update(parallel_writes=False), "parallel_writes"),
        (lambda d: d["crawl"].update(max_rounds=0), "max_rounds"),
        (lambda d: d["crawl"].update(retry_max=-1), "retry_max"),
        (lambda d: d["inputs"].pop("seeds"), "inputs.seeds"),
        (lambda d: d.update(extra={}), "unknown top-level"),
        (lambda d: d.pop("workdir"), "workdir"),
        (lambda d: d["inputs"].update(pages="/nonexistent/xyz"), "does not exist"),
    ],
)
def test_invalid_configs_fail_fast(tmp_path, mutate, msg):
    doc = make_doc(tmp_path)
    mutate(doc)
    with pytest.raises(PipelineConfigError, match=msg):
        validate_pipeline(doc)
