"""Unit layer: physical units attached to columns, propagated eagerly at
expression-build time — never inside Catalyst.

The reference wraps dask arrays in pint Quantities and resolves units
from curated YAML files + per-field HDF5 attributes (reference
src/scida/interfaces/mixins/units.py:122-203, configfiles/units/*.yaml),
evaluating dimensional analysis eagerly when the graph is built
(docs/tutorial/observations.md:104-112). pint is not available here, so
this is a minimal, dependency-free unit algebra with the same surface:

* :class:`Unit` — scale factor + exponent vector over base dimensions
  (supports ``* / **``, equality at rtol, conversion factors)
* :class:`UnitRegistry` — named units incl. per-dataset cosmology
  definitions ``h`` and ``a`` (reference mixins/cosmology.py:54-63)
* column attachment via Spark ``StructField.metadata['unit']`` so units
  survive save/load without touching the engine's plans

Mismatch checking mirrors units.py:668-733 (~1e-3 rtol); the
missing-unit policy (warn/raise/ignore) mirrors units.py:736-768.
"""

from __future__ import annotations

import math
import warnings
from dataclasses import dataclass, field


@dataclass(frozen=True)
class Unit:
    """scale * Π dim_i^exp_i. Immutable; arithmetic returns new Units."""

    scale: float = 1.0
    dims: tuple[tuple[str, float], ...] = ()
    name: str | None = None

    @staticmethod
    def dimensionless() -> "Unit":
        return Unit(1.0, (), "dimensionless")

    def _dimdict(self) -> dict[str, float]:
        return dict(self.dims)

    @staticmethod
    def _norm(d: dict[str, float]) -> tuple[tuple[str, float], ...]:
        return tuple(sorted((k, v) for k, v in d.items() if v != 0))

    def __mul__(self, other: "Unit") -> "Unit":
        d = self._dimdict()
        for k, v in other.dims:
            d[k] = d.get(k, 0) + v
        return Unit(self.scale * other.scale, self._norm(d))

    def __truediv__(self, other: "Unit") -> "Unit":
        d = self._dimdict()
        for k, v in other.dims:
            d[k] = d.get(k, 0) - v
        return Unit(self.scale / other.scale, self._norm(d))

    def __pow__(self, p: float) -> "Unit":
        return Unit(self.scale**p, self._norm({k: v * p for k, v in self.dims}))

    def same_dimensions(self, other: "Unit") -> bool:
        return self._norm(self._dimdict()) == other._norm(other._dimdict())

    def conversion_factor(self, target: "Unit") -> float:
        """Multiplier converting a value in self to target units."""
        if not self.same_dimensions(target):
            raise ValueError(f"incompatible dimensions: {self} vs {target}")
        return self.scale / target.scale

    def isclose(self, other: "Unit", rtol: float = 1e-3) -> bool:
        """Same dimensions and scales equal within rtol (mirrors the
        reference's mismatch check, units.py:668-733)."""
        return self.same_dimensions(other) and math.isclose(
            self.scale, other.scale, rel_tol=rtol
        )

    def __str__(self) -> str:
        return self.name or (
            f"{self.scale:g} " + " ".join(f"{k}^{v:g}" for k, v in self.dims)
        ).strip()


class UnitRegistry:
    """Named units, including per-dataset cosmology definitions.

    ``define('h', 0.6774)`` mirrors the reference's per-dataset registry
    injection of ``h`` and ``a`` from the header
    (mixins/cosmology.py:54-63).
    """

    def __init__(self, missing_units: str = "warn"):
        if missing_units not in ("warn", "raise", "ignore"):
            raise ValueError("missing_units must be warn|raise|ignore")
        self.missing_units = missing_units
        self._units: dict[str, Unit] = {
            "dimensionless": Unit.dimensionless(),
            "unknown": Unit(1.0, (), "unknown"),
            "cm": Unit(1.0, (("length", 1),), "cm"),
            "g": Unit(1.0, (("mass", 1),), "g"),
            "s": Unit(1.0, (("time", 1),), "s"),
            "km": Unit(1e5, (("length", 1),), "km"),
            "kpc": Unit(3.085678e21, (("length", 1),), "kpc"),
            "Mpc": Unit(3.085678e24, (("length", 1),), "Mpc"),
            "Msun": Unit(1.989e33, (("mass", 1),), "Msun"),
            "Gyr": Unit(3.15576e16, (("time", 1),), "Gyr"),
            "yr": Unit(3.15576e7, (("time", 1),), "yr"),
            "K": Unit(1.0, (("temperature", 1),), "K"),
            "erg": Unit(1.0, (("mass", 1), ("length", 2), ("time", -2)), "erg"),
            "deg": Unit(math.pi / 180.0, (("angle", 1),), "deg"),
            "rad": Unit(1.0, (("angle", 1),), "rad"),
        }

    def define(self, name: str, value: float | Unit) -> None:
        if isinstance(value, Unit):
            self._units[name] = Unit(value.scale, value.dims, name)
        else:
            self._units[name] = Unit(float(value), (), name)

    def define_code_units(self, *, h: float, a: float, unit_length_cm: float,
                          unit_mass_g: float, unit_velocity_cm_s: float) -> None:
        """Gadget-style code units from header scalars (reference
        configfiles/units/gadget_cosmological.yaml + FIXTURES.md §6)."""
        self.define("h", h)
        self.define("a", a)
        self._units["code_length"] = Unit(
            unit_length_cm / h, (("length", 1),), "code_length"
        )
        self._units["code_mass"] = Unit(unit_mass_g / h, (("mass", 1),), "code_mass")
        self._units["code_velocity"] = Unit(
            unit_velocity_cm_s, (("length", 1), ("time", -1)), "code_velocity"
        )

    def __getitem__(self, name: str) -> Unit:
        return self.parse(name)

    _TOKEN_RE = None  # compiled lazily (class-level cache)

    def parse(self, expr: str) -> Unit:
        """Parse unit expressions over named units — the same surface the
        reference's curated YAML files use (pint syntax, e.g.
        ``1e10 * Msun / h``, ``a * kpc``, ``(km / s)^2``, ``km * a^(1/2) / s``
        — configfiles/units/gadget_cosmological.yaml). Recursive descent:

            expr   := term (('*' | '/') term)*
            term   := factor (('^' | '**') factor)?
            factor := NAME | NUMBER | '-' factor | '(' expr ')'

        Exponents may be any parenthesized dimensionless expression
        (``a^(1/2)``). Implicit multiplication (``1e10 Msun``) is
        accepted: adjacent factors multiply.
        """
        import re

        expr = expr.strip()
        if not expr:
            return Unit.dimensionless()
        if expr in self._units:
            return self._units[expr]
        if UnitRegistry._TOKEN_RE is None:
            UnitRegistry._TOKEN_RE = re.compile(
                r"\s*(\*\*|\^|[*/()\-]|[A-Za-z_][A-Za-z0-9_]*"
                r"|(?:\d+\.?\d*|\.\d+)(?:[eE][+-]?\d+)?)"
            )
        toks: list[str] = []
        pos = 0
        while pos < len(expr):
            m = UnitRegistry._TOKEN_RE.match(expr, pos)
            if not m:
                return self._missing(expr)
            toks.append(m.group(1))
            pos = m.end()
        i = 0

        def peek() -> str | None:
            return toks[i] if i < len(toks) else None

        def factor() -> Unit:
            nonlocal i
            t = peek()
            if t is None:
                raise ValueError(f"unexpected end of unit expression: {expr!r}")
            if t in ("*", "/", "^", "**", ")"):
                # An operator where a factor must start is a malformed
                # expression — raise, never route through _missing (the
                # warn policy would silently substitute scale-1
                # 'unknown' and corrupt the conversion factor).
                raise ValueError(
                    f"unexpected token {t!r} in unit expression {expr!r}"
                )
            if t == "-":
                i += 1
                u = factor()
                return Unit(-u.scale, u.dims)
            if t == "(":
                i += 1
                u = parse_expr()
                if peek() != ")":
                    raise ValueError(f"unbalanced parens in unit expression: {expr!r}")
                i += 1
                return u
            i += 1
            try:
                return Unit(float(t), ())
            except ValueError:
                pass
            if t not in self._units:
                return self._missing(t)
            return self._units[t]

        def term() -> Unit:
            nonlocal i
            u = factor()
            if peek() in ("^", "**"):
                i += 1
                e = factor()
                if e.dims:
                    raise ValueError(f"exponent must be dimensionless in {expr!r}")
                u = u ** e.scale
            return u

        def _starts_factor(t: str) -> bool:
            if t == "(" or t[0].isalpha() or t[0] == "_":
                return True
            try:
                float(t)
                return True
            except ValueError:
                return False

        def parse_expr() -> Unit:
            nonlocal i
            u = term()
            while True:
                t = peek()
                if t == "*":
                    i += 1
                    u = u * term()
                elif t == "/":
                    i += 1
                    u = u / term()
                elif t is not None and t != ")" and _starts_factor(t):
                    # implicit multiplication: '1e10 Msun'. ONLY tokens
                    # that can open a factor (NAME/NUMBER/'(') — a stray
                    # '^'/'**' here is a malformed expression and must
                    # raise, not silently route through _missing into a
                    # scale-1 'unknown' that corrupts conversion factors.
                    u = u * term()
                elif t is not None and t != ")":
                    raise ValueError(
                        f"unexpected token {t!r} in unit expression {expr!r}"
                    )
                else:
                    return u

        u = parse_expr()
        if i != len(toks):
            raise ValueError(f"trailing tokens in unit expression: {expr!r}")
        return u

    def _missing(self, name: str) -> Unit:
        if self.missing_units == "raise":
            raise KeyError(f"unknown unit: {name!r}")
        if self.missing_units == "warn":
            warnings.warn(f"unknown unit {name!r}; treating as 'unknown'", stacklevel=3)
        return self._units["unknown"]


# --- unit-propagating column wrapper --------------------------------------


class UnitColumn:
    """A (Column, Unit) pair with eager dimensional analysis — the
    engine's pint-Quantity surface (reference fields are
    ``pint.Quantity(dask.array)``, docs/units.md:43-57; propagation
    happens at graph-build time, docs/tutorial/observations.md:104-112).

    Arithmetic propagates units in Python while composing ordinary
    Column expressions; Catalyst never sees units. ``+``/``-`` require
    compatible dimensions and auto-convert the right side (pint
    semantics); ``*``/``/``/``**`` combine dimensions; ``to()``
    converts explicitly. Incompatible dimensions raise at expression
    build time — before any job runs.
    """

    def __init__(self, col, unit: Unit | str, ureg: "UnitRegistry | None" = None):
        from pyspark.sql import Column, functions as F

        self.ureg = ureg or UnitRegistry()
        self.unit = self.ureg.parse(unit) if isinstance(unit, str) else unit
        self.col: Column = F.col(col) if isinstance(col, str) else col

    # -- arithmetic ---------------------------------------------------------

    def _coerce(self, other) -> "UnitColumn":
        if isinstance(other, UnitColumn):
            return other
        from pyspark.sql import functions as F

        return UnitColumn(F.lit(other), Unit.dimensionless(), self.ureg)

    def __mul__(self, other):
        o = self._coerce(other)
        return UnitColumn(self.col * o.col, self.unit * o.unit, self.ureg)

    __rmul__ = __mul__

    def __truediv__(self, other):
        o = self._coerce(other)
        return UnitColumn(self.col / o.col, self.unit / o.unit, self.ureg)

    def __pow__(self, p: float):
        return UnitColumn(self.col ** p, self.unit ** p, self.ureg)

    def __add__(self, other):
        o = self._coerce(other).to(self.unit)
        return UnitColumn(self.col + o.col, self.unit, self.ureg)

    def __sub__(self, other):
        o = self._coerce(other).to(self.unit)
        return UnitColumn(self.col - o.col, self.unit, self.ureg)

    def __neg__(self):
        return UnitColumn(-self.col, self.unit, self.ureg)

    # -- conversion ---------------------------------------------------------

    def to(self, target: Unit | str) -> "UnitColumn":
        """Convert to target units (multiplies by the exact factor —
        mirrors pint's ``.to()``, docs/units.md:69-80)."""
        t = self.ureg.parse(target) if isinstance(target, str) else target
        factor = self.unit.conversion_factor(t)  # raises on dim mismatch
        col = self.col if factor == 1.0 else self.col * factor
        return UnitColumn(col, t, self.ureg)

    @property
    def magnitude(self):
        """The bare Column (pint ``.magnitude``)."""
        return self.col

    def alias(self, name: str):
        return self.col.alias(name)

    def __repr__(self) -> str:
        return f"UnitColumn({self.col}, unit={self.unit})"


# --- column metadata attachment -------------------------------------------


def set_column_unit(df, col_name: str, unit: str):
    """Record a unit string in the column's StructField metadata (survives
    parquet round-trips)."""
    from pyspark.sql import functions as F

    meta = {"unit": unit}
    return df.withColumn(col_name, F.col(col_name).alias(col_name, metadata=meta))


def get_column_unit(df, col_name: str) -> str | None:
    for f in df.schema.fields:
        if f.name == col_name:
            return (f.metadata or {}).get("unit")
    return None


# --- per-field unit extraction from HDF5 dataset attributes ---------------

_CGS_FACTOR_KEYS = (
    "to_cgs",
    "Conversion factor to physical CGS (including cosmological corrections)",
)
_SCALING_KEYS = ("length", "mass", "velocity", "time", "h", "a")
_BASE_UNIT_NAME = {
    "length": "cm",
    "mass": "g",
    "time": "s",
    "temperature": "K",
    "angle": "rad",
}


def unit_to_expr(u: Unit) -> str:
    """Serialize a Unit into a parseable expression over cgs base units
    (``3.085678e21 * cm`` …) so attrs-derived units can live in the
    string-valued ``field_units`` maps next to curated names."""
    parts = [f"{u.scale:.9g}"]
    for k, v in u.dims:
        base = _BASE_UNIT_NAME.get(k)
        if base is None:  # dimensionless pseudo-dims never appear here
            continue
        parts.append(base if v == 1 else f"{base}^{v:g}")
    return " * ".join(parts)


def unit_from_field_attrs(ureg: UnitRegistry, attrs: dict) -> "Unit | str | None":
    """Derive a field's unit from its HDF5 dataset attributes — the
    reference's ``extract_units_from_attrs`` in cgs mode
    (mixins/units.py:122-260):

    * TNG/Illustris-style: ``to_cgs`` conversion factor (or the long
      'Conversion factor to physical CGS …' key) + ``*_scaling``
      exponents over {length, mass, velocity, time, h, a}. Dimensions
      come from the exponents over cgs base units; ``h``/``a`` resolve
      from the per-dataset cosmology definitions in the registry
      (mixins/cosmology.py:54-63) — if an h/a exponent is non-zero but
      the registry has no definition, returns None (an unresolvable
      unit is better reported missing than silently mis-scaled).
    * SWIFT-style '[bracketed] unit' strings ('Conversion factor',
      'Expression for physical CGS units'), EAGLE-style 'cgsunits',
      plain 'units', or a description with [..]/(..).

    Returns a Unit, the string ``"none"`` (explicitly unitless), or
    None (no unit information present / unresolvable).
    """
    import numpy as np

    factor = None
    for k in _CGS_FACTOR_KEYS:
        if k in attrs:
            v = attrs[k]
            if isinstance(v, (list, tuple, np.ndarray)):
                v = np.asarray(v).ravel()
                v = float(v[0]) if v.size else 1.0
            factor = float(v)
            break
    scalings = {
        k: float(attrs[k + "_scaling"])
        for k in _SCALING_KEYS
        if k + "_scaling" in attrs and float(attrs[k + "_scaling"]) != 0.0
    }
    if scalings:
        u = Unit(1.0 if factor in (None, 0.0) else factor, ())
        base = {
            "length": ureg["cm"],
            "mass": ureg["g"],
            "velocity": ureg["cm"] / ureg["s"],
            "time": ureg["s"],
        }
        for k, exp in scalings.items():
            if k in ("h", "a"):
                if k not in ureg._units:
                    return None  # cosmology not defined → unresolvable
                u = u * (ureg._units[k] ** exp)
            else:
                u = u * (base[k] ** exp)
        return u
    # A cgs factor without *_scaling exponents (SWIFT-style files carry
    # both the float factor and an 'Expression for physical CGS units'
    # string): fall through to the unit-string branches and seed the
    # parsed unit with the factor, like the reference's
    # extract_units_from_attrs (mixins/units.py:159-196). The pure-scale
    # dimensionless Unit is only the last resort when no string exists.

    unitstr = None
    for k in ("Conversion factor", "Expression for physical CGS units"):
        if k in attrs:
            s = str(attrs[k])
            if "[" in s:
                s = s.split("[")[-1].split("]")[0]
            unitstr = "" if s.strip() == "-" else s
            break
    if unitstr is None and "cgsunits" in attrs:
        unitstr = attrs["cgsunits"]
        if unitstr is None:
            return "none"
    if unitstr is None and "units" in attrs:
        unitstr = attrs["units"]
    if unitstr is None and "description" in attrs:
        desc = str(attrs["description"])
        for opener, closer in (("[", "]"), ("(", ")")):
            if opener in desc and closer in desc.split(opener, 1)[1]:
                cand = desc.split(opener, 1)[1].split(closer, 1)[0]
                if cand and cand != desc:
                    unitstr = cand.strip("'").lower()
                    break
    parsed = None
    if unitstr is not None:
        if isinstance(unitstr, bytes):
            unitstr = unitstr.decode("utf-8", "replace")
        unitstr = str(unitstr).strip()
        if unitstr.lower() in ("none", ""):
            parsed = "none"
        else:
            prev = ureg.missing_units
            ureg.missing_units = "raise"
            try:
                parsed = ureg.parse(unitstr)
            except (KeyError, ValueError):
                parsed = None
            finally:
                ureg.missing_units = prev
    if isinstance(parsed, Unit):
        if factor not in (None, 0.0, 1.0):
            return Unit(factor, ()) * parsed
        return parsed
    if parsed == "none":
        return "none"
    # no (parseable) unit string — factor alone is all we know
    if factor is not None:
        if factor == 1.0:
            # to_cgs=1, no dims anywhere: dimensionless counter/ID
            # fields — explicitly unitless (reference units.py:700-712
            # treats these as agreement with 'none').
            return "none"
        if factor != 0.0:
            return Unit(factor, ())
        return "none"
    return None
