"""Custom-validator plugin surface (SURVEY.md §2.9 X1/X3).

The reference lets users drop free-form Python validator classes into a
directory; each gets the parsed document and reports via
``add_validation_error`` (/root/reference/schema_enforcer/schemas/validator.py:15-62,
contract /root/reference/docs/custom_validators.md:8-44). Our distributed
analogue receives **Arrow record batches** (pandas DataFrames), never single
rows (north_rule: vectorized only):

- ``PandasValidator.group_by = None`` → ``mapInPandas``: the batch is an
  arbitrary partition slice. Right for row-local cross-column logic.
- ``group_by = [cols]`` → ``applyInPandas``: the batch is one complete
  group (e.g. a conversation). Right for stateful per-conversation checks.
  This shuffles on the group key — the plugin's cost model is explicit.

Plugins report violations by returning a DataFrame built with
``self.fail(keys, column, failing_value, message)`` — the vectorized
``add_validation_error``. Discovery mirrors the reference's module scan
(validator.py:200-208): ``load_validators(module_or_path)`` collects every
``PandasValidator`` subclass instance.
"""

from __future__ import annotations

import importlib
import importlib.util
import inspect
import sys

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from schema_enforcer_spark.engine import VIOLATION_COLUMNS  # noqa: F401  (re-export convenience)

_OUT_COLS = ["keys", "column", "failing_value", "message"]
_OUT_DDL = "keys array<string>, column string, failing_value string, message string"


class PandasValidator:
    """Subclass and implement ``validate(pdf) -> pd.DataFrame``.

    ``validate`` receives an Arrow batch (all input columns, native dtypes)
    and returns a violations frame assembled with ``self.fail(...)`` or
    ``self.empty()``. ``id`` defaults to the class name, like the
    reference's ``getattr(model, "id", model.__name__)``
    (/root/reference/schema_enforcer/schemas/validator.py:119)."""

    id: str | None = None
    group_by: list[str] | None = None
    key_columns: list[str] = ["conv_id", "turn_idx"]

    @property
    def schema_id(self) -> str:
        return self.id or type(self).__name__

    def empty(self) -> pd.DataFrame:
        return pd.DataFrame({c: pd.Series(dtype=object) for c in _OUT_COLS})

    def fail(
        self,
        pdf: pd.DataFrame,
        mask,
        column: str,
        message,
    ) -> pd.DataFrame:
        """Vectorized add_validation_error: flag the rows where *mask* is
        True. *message* may be a scalar string or a Series aligned to pdf."""
        bad = pdf.loc[mask]
        if bad.empty:
            return self.empty()
        keys = bad[[k for k in self.key_columns if k in bad.columns]].astype(str)
        msgs = message.loc[bad.index] if isinstance(message, pd.Series) else pd.Series([message] * len(bad), index=bad.index)
        return pd.DataFrame(
            {
                "keys": keys.apply(lambda r: list(r) + [column], axis=1),
                "column": column,
                "failing_value": bad[column].astype(str).where(bad[column].notna(), None) if column in bad.columns else None,
                "message": msgs,
            }
        )

    def validate(self, pdf: pd.DataFrame) -> pd.DataFrame:  # pragma: no cover - interface
        raise NotImplementedError


def is_validator(obj) -> bool:
    """Mirror of the reference's plugin filter
    (/root/reference/schema_enforcer/schemas/validator.py:189-197)."""
    return inspect.isclass(obj) and issubclass(obj, PandasValidator) and obj is not PandasValidator


def load_validators(module_or_path: str) -> list[PandasValidator]:
    """Import a module (dotted name) or a .py file and instantiate every
    PandasValidator subclass. Duplicate ids are rejected, like
    validator.py:204-206."""
    if module_or_path.endswith(".py"):
        spec = importlib.util.spec_from_file_location("_sev_plugins", module_or_path)
        mod = importlib.util.module_from_spec(spec)
        sys.modules["_sev_plugins"] = mod
        spec.loader.exec_module(mod)
    else:
        mod = importlib.import_module(module_or_path)
    out, seen = [], set()
    for _, cls in inspect.getmembers(mod, is_validator):
        inst = cls()
        if inst.schema_id in seen:
            raise ValueError(f"duplicate validator id {inst.schema_id!r}")
        seen.add(inst.schema_id)
        out.append(inst)
    return out


def run_validator(
    df: DataFrame,
    validator: PandasValidator,
    table: str = "transcripts",
    instance_expr: str | None = None,
    num_buckets: int = 32,
) -> DataFrame:
    """Execute one plugin, returning standard violation rows."""

    def _map(batches):
        for pdf in batches:
            out = validator.validate(pdf)
            yield out[_OUT_COLS] if len(out) else out

    def _grouped(pdf: pd.DataFrame) -> pd.DataFrame:
        out = validator.validate(pdf)
        return out[_OUT_COLS] if len(out) else out

    if validator.group_by:
        raw = df.groupBy(*validator.group_by).applyInPandas(_grouped, _OUT_DDL)
    else:
        raw = df.mapInPandas(_map, _OUT_DDL)

    anchor = F.get(F.col("keys"), 0)
    inst = (
        F.expr(instance_expr).cast("string")
        if instance_expr
        else F.pmod(F.hash(anchor), F.lit(num_buckets)).cast("string")
    )
    # not ValidationEngine._violation_rows: a plugin runs without a
    # manifest or engine, so table and instance type come from the caller
    return raw.select(
        F.lit(validator.schema_id).alias("schema_id"),
        F.lit("FAIL").alias("result"),
        inst.alias("instance_name"),
        F.lit(table).alias("instance_location"),
        F.lit("PARTITION").alias("instance_type"),
        F.col("keys").alias("absolute_path"),
        F.col("failing_value"),
        F.col("message"),
    )


class PydanticBatchValidator(PandasValidator):
    """X3: validate each row against a pydantic model, Arrow-batched —
    the distributed analogue of the reference's pydantic wrapper
    (/root/reference/schema_enforcer/schemas/validator.py:91-137), which
    calls ``model(**data)`` per document and converts ValidationError lines
    to results. Here ``model_validate`` runs once per row of each Arrow
    batch inside the executor (no JVM round-trips per error), emitting one
    violation per failed field with the pydantic message."""

    def __init__(self, model, id: str | None = None, key_columns: list[str] | None = None):
        import pydantic  # gate: optional dependency

        if not (isinstance(model, type) and issubclass(model, pydantic.BaseModel)):
            raise TypeError(f"model must be a pydantic.BaseModel subclass, got {model!r}")
        # pydantic v2 snapshots the defining frame's locals for deferred
        # forward-ref resolution; a model declared inside a function would
        # then drag the whole frame (often a SparkSession) into the executor
        # pickle. The model is fully built here, so drop the snapshot.
        try:
            model.__pydantic_parent_namespace__ = None
        except Exception:  # noqa: BLE001 - best effort, attr may be absent/frozen
            pass
        self.model = model
        self.id = id or f"pydantic/{model.__name__}"
        if key_columns:
            self.key_columns = key_columns

    def validate(self, pdf: pd.DataFrame) -> pd.DataFrame:
        import pydantic

        fields = [c for c in self.model.model_fields if c in pdf.columns]
        keys_present = [k for k in self.key_columns if k in pdf.columns]
        rows = {"keys": [], "column": [], "failing_value": [], "message": []}
        records = pdf[fields].to_dict("records")
        for idx, rec in enumerate(records):
            # NaN filter must only probe scalars: `v == v` on a list/ndarray
            # cell returns an array whose truth value raises ValueError
            clean = {
                k: v
                for k, v in rec.items()
                if v is not None and not (isinstance(v, float) and v != v)
            }
            try:
                self.model.model_validate(clean)
            except pydantic.ValidationError as e:
                key_vals = [str(pdf[k].iloc[idx]) for k in keys_present]
                for err in e.errors():
                    col = ".".join(str(p) for p in err["loc"]) or "*"
                    rows["keys"].append(key_vals + [col])
                    rows["column"].append(col)
                    fv = clean.get(err["loc"][0]) if err["loc"] else None
                    rows["failing_value"].append(None if fv is None else str(fv))
                    rows["message"].append(err["msg"])
        if not rows["keys"]:
            return self.empty()
        return pd.DataFrame(rows)
