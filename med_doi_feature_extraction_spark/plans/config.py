"""Pipeline config loading: overlay merge, includes, env substitution.

Same declarative semantics as the reference's config system — the
"query language" its users write — re-implemented from observed
behavior (NOT copied):

- recursive ``include:`` overlay resolution, outermost wins
  (reference ``src/config/loader.py:47-62``),
- deep dict merge where overlay scalars/lists replace and dicts merge
  (``src/utils.py:10-31``),
- ``${VAR}`` environment substitution over the whole tree
  (``src/utils.py:34-53``),
- frozen, validated model as the single IR the engine compiles
  (``src/config/schema.py:93-110``) — here the compile target is a
  Spark DataFrame DAG instead of an eager per-record loop.
"""

from __future__ import annotations

import os
import re
from pathlib import Path
from typing import Any

import yaml
from pydantic import BaseModel, ConfigDict, Field

_ENV_RE = re.compile(r"\$\{([A-Za-z_][A-Za-z0-9_]*)\}")


def deep_merge(base: dict, overlay: dict) -> dict:
    """Recursive merge: dicts merge, everything else (incl. lists) is
    replaced by the overlay."""
    out = dict(base)
    for k, v in overlay.items():
        if isinstance(v, dict) and isinstance(out.get(k), dict):
            out[k] = deep_merge(out[k], v)
        else:
            out[k] = v
    return out


def substitute_env(node: Any) -> Any:
    """Replace ``${VAR}`` with the environment value (missing vars
    resolve to empty string) across a YAML tree."""
    if isinstance(node, str):
        return _ENV_RE.sub(lambda m: os.environ.get(m.group(1), ""), node)
    if isinstance(node, dict):
        return {k: substitute_env(v) for k, v in node.items()}
    if isinstance(node, list):
        return [substitute_env(v) for v in node]
    return node


def load_yaml_with_includes(path: str | Path, _seen: frozenset = frozenset()) -> dict:
    """Load YAML; resolve ``include:`` (str or list of paths, relative
    to the including file) depth-first so the including file overlays
    its includes. Cycles raise."""
    path = Path(path).resolve()
    if str(path) in _seen:
        raise ValueError(f"config include cycle at {path}")
    raw = yaml.safe_load(path.read_text()) or {}
    includes = raw.pop("include", None)
    merged: dict = {}
    if includes:
        if isinstance(includes, str):
            includes = [includes]
        for inc in includes:
            inc_path = (path.parent / inc).resolve()
            merged = deep_merge(
                merged,
                load_yaml_with_includes(inc_path, _seen | {str(path)}),
            )
    return deep_merge(merged, raw)


class WindowSpec(BaseModel):
    model_config = ConfigDict(frozen=True, extra="forbid")
    session_gap_seconds: int = 3600
    lag_k: int = 1
    rolling_rows: int = 0
    include_labels: bool = False


class AsofSpec(BaseModel):
    model_config = ConfigDict(frozen=True, extra="forbid")
    value_cols: tuple[str, ...] = ("rank_score", "category")
    tiebreak: tuple[str, ...] = ("rank_score", "category")


class ExecutionSpec(BaseModel):
    model_config = ConfigDict(frozen=True, extra="forbid")
    n_buckets: int = 64
    buckets_per_chunk: int = 64


class PipelineSpec(BaseModel):
    """The frozen IR. ``extra='allow'`` mirrors the reference's open
    config schema so user pipelines can carry custom keys through to
    their own kernels."""

    model_config = ConfigDict(frozen=True, extra="allow")
    name: str = "pages_features"
    kernel: str = "html_to_text"
    window: WindowSpec = Field(default_factory=WindowSpec)
    asof: AsofSpec = Field(default_factory=AsofSpec)
    execution: ExecutionSpec = Field(default_factory=ExecutionSpec)
    run_id: str = "adhoc"


def load_pipeline_spec(
    path: str | Path, overrides: dict | None = None
) -> PipelineSpec:
    """include-resolve → env-substitute → override-merge → validate →
    freeze. ``overrides`` are CLI/driver-level rewrites applied last
    (reference ``commands_run.py:128-142`` semantics)."""
    tree = load_yaml_with_includes(path)
    tree = substitute_env(tree)
    if overrides:
        tree = deep_merge(tree, overrides)
    return PipelineSpec.model_validate(tree)


def to_feature_config(spec: PipelineSpec):
    """Compile the frozen spec into the pipeline's FeatureConfig."""
    from med_doi_feature_extraction_spark.pipeline import FeatureConfig

    return FeatureConfig(
        session_gap_seconds=spec.window.session_gap_seconds,
        lag_k=spec.window.lag_k,
        rolling_rows=spec.window.rolling_rows,
        include_labels=spec.window.include_labels,
        dim_value_cols=spec.asof.value_cols,
        dim_tiebreak=spec.asof.tiebreak,
        run_id=spec.run_id,
    )
