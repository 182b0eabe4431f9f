"""Pipeline configuration — the reference's layered YAML settings.

The reference selects which tasks run and how from YAML
(/root/reference/configuration/base.yaml:9-46, loaded by
src/configuration.rs:125-157) and *panics* on invalid graphs
(src/dag_schedule/schedule.rs:118-138, SURVEY.md D3/D4/D8). Here the
"graph" is the round loop, so validation is config-shape checking:
unknown keys, non-positive bounds, and missing inputs fail fast before
any Spark job runs.

Layering mirrors configuration.rs:125-157 (base.yaml + {environment}.yaml
+ APP_* env vars with '__' separators, later layers winning):

    base file  <  overlay file (optional)  <  DCS__section__key env vars

e.g. ``DCS__crawl__max_rounds=8`` overrides crawl.max_rounds, and
``DCS__workdir=/elsewhere`` overrides the top-level workdir.

Example (YAML or JSON):

    crawl:
      max_rounds: 5
      default_budget: 2
      retry_max: 2
      recrawl_ttl_rounds: 0
    inputs:
      pages: /data/pages          # required
      seeds: /data/seeds          # required (parquet: url, priority)
      robots: /data/robots        # optional
      budgets: /data/budgets      # optional
    workdir: /data/crawl_wd       # required
"""

from __future__ import annotations

import dataclasses
import json
import os

from data_collector_spark.crawler.driver import CrawlConfig

_CRAWL_KEYS = {f.name for f in dataclasses.fields(CrawlConfig)}
_INPUT_KEYS = {"pages", "seeds", "robots", "budgets"}

ENV_PREFIX = "DCS"  # the reference uses APP_ (configuration.rs:144-152)


class PipelineConfigError(ValueError):
    pass


def _read_doc(path: str) -> dict:
    with open(path) as f:
        raw = f.read()
    if path.endswith((".yaml", ".yml")):
        import yaml

        doc = yaml.safe_load(raw)
    else:
        doc = json.loads(raw)
    if not isinstance(doc, dict):
        raise PipelineConfigError(f"{path}: config root must be a mapping")
    return doc


def _deep_merge(base: dict, overlay: dict) -> dict:
    out = dict(base)
    for k, v in overlay.items():
        if isinstance(v, dict) and isinstance(out.get(k), dict):
            out[k] = _deep_merge(out[k], v)
        else:
            out[k] = v
    return out


def apply_env_overrides(doc: dict, environ: dict[str, str] | None = None) -> dict:
    """DCS__a__b=value sets doc['a']['b'] (the reference's APP_ prefix with
    '__' separators, configuration.rs:144-152). Values parse as JSON
    scalars when possible (ints/bools/floats), else stay strings."""
    environ = os.environ if environ is None else environ
    out = json.loads(json.dumps(doc))  # deep copy, plain types
    prefix = ENV_PREFIX + "__"
    for key in sorted(environ):
        if not key.startswith(prefix):
            continue
        path = key[len(prefix):].split("__")
        if not all(path):
            raise PipelineConfigError(f"malformed override variable: {key}")
        node = out
        for part in path[:-1]:
            nxt = node.get(part)
            if nxt is None:
                nxt = {}
                node[part] = nxt
            elif not isinstance(nxt, dict):
                # DCS__workdir__x would silently turn the workdir string
                # into a dict — fail fast instead
                raise PipelineConfigError(
                    f"{key}: cannot descend into non-mapping config node {part!r}"
                )
            node = nxt
        raw = environ[key]
        try:
            node[path[-1]] = json.loads(raw)
        except (json.JSONDecodeError, ValueError):
            node[path[-1]] = raw
    return out


def load_pipeline(
    path: str,
    overlay_path: str | None = None,
    environ: dict[str, str] | None = None,
) -> tuple[CrawlConfig, dict[str, str], str]:
    """-> (CrawlConfig, input paths, workdir). Raises on any invalid shape.

    Layers: base file, then overlay file (if given), then DCS__* env vars —
    later wins, mirroring base.yaml < {env}.yaml < APP_* in the reference.
    """
    doc = _read_doc(path)
    if overlay_path:
        doc = _deep_merge(doc, _read_doc(overlay_path))
    doc = apply_env_overrides(doc, environ)
    return validate_pipeline(doc)


def validate_pipeline(doc: dict) -> tuple[CrawlConfig, dict[str, str], str]:
    if not isinstance(doc, dict):
        raise PipelineConfigError("config root must be a mapping")
    unknown = set(doc) - {"crawl", "inputs", "workdir"}
    if unknown:
        raise PipelineConfigError(f"unknown top-level keys: {sorted(unknown)}")

    crawl = doc.get("crawl", {}) or {}
    bad = set(crawl) - _CRAWL_KEYS
    if bad:
        raise PipelineConfigError(f"unknown crawl keys: {sorted(bad)} (valid: {sorted(_CRAWL_KEYS)})")
    # field-type validation against the dataclass defaults: an env override
    # like DCS__crawl__use_bloom=False (Python spelling, not JSON 'false')
    # would otherwise arrive as the truthy string 'False' and silently
    # leave bloom ON — the opposite of the operator's intent
    _defaults = CrawlConfig()
    for k, v in crawl.items():
        dv = getattr(_defaults, k)
        if isinstance(dv, bool):
            ok = isinstance(v, bool)
        elif isinstance(dv, int):
            ok = isinstance(v, int) and not isinstance(v, bool)
        else:
            ok = isinstance(v, type(dv))
        if not ok:
            raise PipelineConfigError(
                f"crawl.{k}: expected {type(dv).__name__},"
                f" got {type(v).__name__} ({v!r})"
            )
    cfg = CrawlConfig(**crawl)
    if cfg.max_rounds < 1:
        raise PipelineConfigError("crawl.max_rounds must be >= 1")
    if cfg.default_budget < 1:
        raise PipelineConfigError("crawl.default_budget must be >= 1")
    if cfg.retry_max < 0 or cfg.recrawl_ttl_rounds < 0:
        raise PipelineConfigError("retry_max/recrawl_ttl_rounds must be >= 0")

    inputs = doc.get("inputs", {}) or {}
    bad = set(inputs) - _INPUT_KEYS
    if bad:
        raise PipelineConfigError(f"unknown input keys: {sorted(bad)}")
    for req in ("pages", "seeds"):
        if req not in inputs:
            raise PipelineConfigError(f"inputs.{req} is required")
        if not os.path.exists(inputs[req]):
            raise PipelineConfigError(f"inputs.{req} path does not exist: {inputs[req]}")

    for k, v in inputs.items():
        if not isinstance(v, str):
            raise PipelineConfigError(f"inputs.{k} must be a path string, got {type(v).__name__}")

    workdir = doc.get("workdir")
    if not workdir or not isinstance(workdir, str):
        raise PipelineConfigError("workdir is required and must be a string")
    return cfg, inputs, workdir
