"""Custom constraint-component validator registry.

Behavioral reference: /root/reference/index.js:351-370 (registerJSLibrary /
registerJSCode) and src/validation-function.js (argument binding by name,
return protocol at validation-engine.js:72-144).  Instead of eval()ing JS
source and regex-sniffing parameter names, validators are Python callables
registered under the component IRI and/or the sh:jsFunctionName declared in
the shapes graph; code ships to executors via ``spark-submit --py-files``.

Two registration kinds:

* ``kind='value'`` — a vectorized verdict function run as a pandas UDF over
  the value frame (the Arrow batch path; never per-row Python):

      fn(values: pd.DataFrame, params: dict[str, Term]) -> pd.Series

  where ``values`` holds the focus and value term groups (focus, focus_v,
  focus_kind, focus_dt, focus_lang, value, value_v, ..., value_lang), one
  row per (focus, value) pair, and the returned Series holds: None/True =
  pass, False = violation, str = violation with message — the reference's
  return protocol minus the object form.

* ``kind='frame'`` — full power: fn(engine, shape, constraint, targets_df,
  values_df, style) -> violations DataFrame | None.  Used when the verdict
  needs joins (the analog of validators that query $data).
"""

from __future__ import annotations

from typing import Callable

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from .graph import term_cols


class ValidatorRegistry:
    def __init__(self):
        self._by_key: dict[str, tuple[str, Callable]] = {}

    def register(self, key: str, fn: Callable, kind: str = "value") -> None:
        """key = component IRI or jsFunctionName-equivalent."""
        if kind not in ("value", "frame"):
            raise ValueError(f"unknown validator kind {kind}")
        self._by_key[key] = (kind, fn)

    def resolve(self, component_iri: str, fn_name: str | None):
        entry = self._by_key.get(component_iri) or (
            self._by_key.get(fn_name) if fn_name else None
        )
        if entry is None:
            return None
        kind, fn = entry
        if kind == "frame":
            return fn
        return _wrap_value_validator(fn)


def _wrap_value_validator(fn: Callable):
    """Adapt a vectorized verdict function into the engine's constraint-impl
    signature. Runs via applyInPandas-style grouped map over the whole value
    frame (Arrow batches, JVM<->Python columnar transfer)."""

    def impl(eng, shape, c, targets, values, style):
        params = dict(c.params)

        value_cols = term_cols("focus") + term_cols("value")

        def verdict_batch(pdf: pd.DataFrame) -> pd.DataFrame:
            verdicts = fn(pdf, params)
            out = pdf.copy()
            out["_verdict"] = [
                None if (v is None or v is True) else ("" if v is False else str(v))
                for v in verdicts
            ]
            return out[out["_verdict"].notna()]

        schema = values.select(*value_cols).schema.add("_verdict", StringType())
        fails = values.select(*value_cols).mapInPandas(
            lambda it: (verdict_batch(pdf) for pdf in it), schema=schema
        )
        fails = fails.withColumn("_msg", F.when(F.col("_verdict") == "", None).otherwise(F.col("_verdict")))
        return eng._rows(fails, shape, c.component.iri, message_col=F.col("_msg"))

    return impl
