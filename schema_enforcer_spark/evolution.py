"""Manifest evolution diff: classify the changes between two manifest
versions as RELAXED / TIGHTENED / CHANGED so a pipeline can gate schema
upgrades before they hit data.

Semantics (constraint-set view): a manifest is the conjunction of its
rules, so ADDING a rule tightens the contract (rows that passed may now
fail) and REMOVING one relaxes it. For a rule whose parameters changed,
strictness is compared where it is decidable:

- ``enum``: a superset of allowed values relaxes, a subset tightens,
  anything else is incomparable.
- bound pairs (``range``, ``length``, ``property_count``,
  ``cardinality``, ``multiple_of`` divisor changes aside): widening both
  bounds relaxes, narrowing tightens, mixed movement is incomparable.
- ``outlier``: a larger fence multiplier ``k`` relaxes.
- everything else (``pattern``, ``jmespath``, ``expression``,
  composition rules, ...): parameter equality is UNCHANGED, any
  difference is CHANGED (incomparable — the diff never guesses about
  regex or expression languages).

``compatible(old, new)`` is True iff every change is a relaxation —
i.e. all data valid under *old* stays valid under *new* (the
backward-compatibility direction used to gate deployments; the reference
has no manifest-version concept, its schemas are re-validated from
scratch each run).

Everything here is driver-side metadata math over rule dicts — no Spark
jobs, safe to run in CI against manifests for 100 TB tables.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any

from schema_enforcer_spark.manifest import Manifest

# params that identify WHICH constraint a rule expresses (the diff key);
# everything else is the constraint's strength
_IDENTITY_PARAMS = (
    "column",
    "columns",
    "dependent",
    "ref_table",
    "ref_columns",
    "partition_by",
    "order_by",
    "group_by",
    "field",
)

# (lower-bound param, upper-bound param) pairs: raising a lower bound or
# lowering an upper bound tightens; None-to-value adds a bound (tightens)
_BOUND_PAIRS = {
    "range": (("minimum", "exclusive_minimum"), ("maximum", "exclusive_maximum")),
    "length": (("min_length",), ("max_length",)),
    "property_count": (("min_properties",), ("max_properties",)),
    "cardinality": (("min_count",), ("max_count",)),
    "rate_limit": ((), ("max_count",)),
}


@dataclass(frozen=True)
class Change:
    change: str  # added | removed | modified
    kind: str
    target: str
    effect: str  # tightened | relaxed | changed | unchanged
    detail: str

    def line(self) -> str:
        return f"{self.effect.upper():<9} {self.change:<8} {self.kind} on {self.target}: {self.detail}"


def _target(rule: dict[str, Any]) -> str:
    parts = []
    for p in _IDENTITY_PARAMS:
        v = rule.get(p)
        if v is not None:
            parts.append("+".join(v) if isinstance(v, list) else str(v))
    return "/".join(parts) or "<table>"


def _key(rule: dict[str, Any]) -> tuple:
    return (rule["kind"], _target(rule))


# params that change HOW a rule executes or renders, never WHAT it
# constrains — toggling them must not read as a contract change.
# (normalize_keys is deliberately NOT here: it changes which rows match.)
_PHYSICAL_PARAMS = (
    "suggest",        # enum: message-only repair hint
    "broadcast",      # referential: join strategy
    "salt",           # aggregate: skew defense
    "exact",          # outlier: sketch vs exact estimator of the same fence
    "bins",           # drift: histogram grain
)


def _strength(rule: dict[str, Any]) -> dict[str, Any]:
    return {
        k: v
        for k, v in rule.items()
        if k not in _IDENTITY_PARAMS + _PHYSICAL_PARAMS + ("kind", "id", "message")
    }


def _cmp_bounds(kind: str, old: dict, new: dict) -> tuple[str, str]:
    """Compare bound-pair strength. Returns (effect, detail)."""
    lows, highs = _BOUND_PAIRS[kind]

    # a side carrying BOTH flavors of one bound (minimum AND
    # exclusive_minimum) has a composite effective bound this comparison
    # cannot rank — the engine enforces their conjunction, so judging from
    # either one alone can approve an unsafe upgrade. Bail to incomparable.
    for d in (old, new):
        for names in (lows, highs):
            if sum(1 for n in names if d.get(n) is not None) > 1:
                return "changed", "both inclusive and exclusive forms of one bound are set"

    def _get(d, names):
        for n in names:
            if d.get(n) is not None:
                return d[n], n
        return None, None

    (olo, olo_n), (nlo, nlo_n) = _get(old, lows), _get(new, lows)
    (ohi, ohi_n), (nhi, nhi_n) = _get(old, highs), _get(new, highs)
    # inclusive<->exclusive switch at the SAME value: strict direction is
    # knowable (exclusive is tighter) but mixing it with value movement is
    # not worth the subtlety — report it as incomparable
    if (olo == nlo and olo is not None and olo_n != nlo_n) or (
        ohi == nhi and ohi is not None and ohi_n != nhi_n
    ):
        return "changed", "bound switched inclusive/exclusive at the same value"

    def _dir(o, n, is_low):
        if o == n:
            return 0
        if n is None:
            return -1  # bound dropped: relax
        if o is None:
            return 1  # bound added: tighten
        raised = n > o
        return (1 if raised else -1) if is_low else (-1 if raised else 1)

    dirs = {_dir(olo, nlo, True), _dir(ohi, nhi, False)}
    detail = f"bounds [{olo}, {ohi}] -> [{nlo}, {nhi}]"
    if dirs == {0}:
        return "unchanged", detail
    if 1 in dirs and -1 in dirs:
        return "changed", detail + " (one bound tightened, one relaxed)"
    return ("tightened" if 1 in dirs else "relaxed"), detail


def _cmp_modified(kind: str, old: dict, new: dict) -> tuple[str, str]:
    so, sn = _strength(old), _strength(new)
    if so == sn:
        return "unchanged", "parameters identical"
    if kind == "enum":
        ov, nv = set(so.get("values") or []), set(sn.get("values") or [])
        if ov == nv:
            return "unchanged", "same value set"
        if ov < nv:
            return "relaxed", f"enum grew: +{sorted(map(repr, nv - ov))}"
        if nv < ov:
            return "tightened", f"enum shrank: -{sorted(map(repr, ov - nv))}"
        return "changed", "enum values replaced (neither subset)"
    if kind in _BOUND_PAIRS:
        # compare non-bound strength params FIRST: a window_seconds change
        # (rate_limit) is a contract change even when the bounds also moved
        # in a rankable direction — checking only after an "unchanged" bound
        # verdict masked it and approved breaking upgrades (ADVICE r6)
        bound_keys = {n for side in _BOUND_PAIRS[kind] for n in side}
        if {k: v for k, v in so.items() if k not in bound_keys} != {
            k: v for k, v in sn.items() if k not in bound_keys
        }:
            return "changed", "non-bound parameters differ"
        return _cmp_bounds(kind, so, sn)
    if kind == "multiple_of":
        om, nm = so.get("multiple_of"), sn.get("multiple_of")
        if (
            {k for k in so if k != "multiple_of"} == {k for k in sn if k != "multiple_of"}
            and om and nm
        ):
            # multiples of 4 are a subset of multiples of 2: the divisor
            # dividing evenly decides the direction
            if om % nm == 0:
                return "relaxed", f"multiple_of {om} -> {nm} (every old multiple still passes)"
            if nm % om == 0:
                return "tightened", f"multiple_of {om} -> {nm}"
            return "changed", f"multiple_of {om} -> {nm} (incomparable divisors)"
    if kind == "outlier":
        ok, nk = so.get("k", 1.5), sn.get("k", 1.5)
        if {k: v for k, v in so.items() if k != "k"} == {k: v for k, v in sn.items() if k != "k"}:
            if nk > ok:
                return "relaxed", f"fence multiplier k {ok} -> {nk}"
            if nk < ok:
                return "tightened", f"fence multiplier k {ok} -> {nk}"
    changed = sorted(set(so) ^ set(sn) | {k for k in set(so) & set(sn) if so[k] != sn[k]})
    return "changed", f"parameters differ: {changed}"


def diff_manifests(old: Manifest | dict, new: Manifest | dict) -> list[Change]:
    """Diff two manifests (Manifest objects or raw dicts). Returns one
    Change per added / removed / modified constraint, UNCHANGED entries
    omitted. Rules are keyed by (kind, identity-params); when a key
    appears multiple times on a side, equal-param rules pair off first
    and the remainder reports as added/removed."""

    def _rules(m) -> list[dict]:
        if isinstance(m, Manifest):
            return [{"kind": r.kind, **r.params} for r in m.rules]
        return [dict(r) for r in m["rules"]]

    by_key_old: dict[tuple, list[dict]] = {}
    by_key_new: dict[tuple, list[dict]] = {}
    for r in _rules(old):
        by_key_old.setdefault(_key(r), []).append(r)
    for r in _rules(new):
        by_key_new.setdefault(_key(r), []).append(r)

    out: list[Change] = []
    for key in sorted(set(by_key_old) | set(by_key_new), key=str):
        kind, target = key
        olds = list(by_key_old.get(key, []))
        news = list(by_key_new.get(key, []))
        # pair off identical rules (no report), then identical-strength
        for o in list(olds):
            for n in list(news):
                if _strength(o) == _strength(n):
                    olds.remove(o)
                    news.remove(n)
                    break
        if len(olds) == 1 and len(news) == 1:
            eff, detail = _cmp_modified(kind, olds[0], news[0])
            if eff != "unchanged":
                out.append(Change("modified", kind, target, eff, detail))
            continue
        for o in olds:
            out.append(
                Change("removed", kind, target, "relaxed", "constraint dropped")
            )
        for n in news:
            out.append(
                Change("added", kind, target, "tightened", "new constraint on existing data")
            )
    return out


def compatible(old: Manifest | dict, new: Manifest | dict) -> bool:
    """True iff every change relaxes the contract — all data valid under
    *old* remains valid under *new*."""
    return all(c.effect == "relaxed" for c in diff_manifests(old, new))
