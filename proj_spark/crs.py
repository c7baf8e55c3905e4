"""Ellipsoid model + registry.

Mirrors the derived-constant block PROJ computes once per operator at setup
(reference: /root/reference/src/proj_internal.h:538-562 — a, b, ra, e, es,
one_es, f, n, ... — and /root/reference/src/ell_set.cpp). Everything here is
driver-side, frozen, and closure-captured into kernels; nothing touches Spark.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field


@dataclass(frozen=True)
class Ellipsoid:
    """Reference ellipsoid with the derived constants kernels need.

    ``n`` (third flattening) drives the Poder/Engsager tmerc series;
    ``e2s`` (second eccentricity squared) drives the Bowring cart inverse.
    """

    name: str
    a: float                      # semi-major axis [m]
    rf: float = 0.0               # inverse flattening (0 => sphere)
    # derived (filled in __post_init__)
    f: float = field(init=False)
    b: float = field(init=False)
    es: float = field(init=False)   # first eccentricity squared e^2
    e: float = field(init=False)
    one_es: float = field(init=False)
    e2s: float = field(init=False)  # second eccentricity squared e'^2
    n: float = field(init=False)    # third flattening f/(2-f)
    ra: float = field(init=False)

    def __post_init__(self) -> None:
        if not self.a > 0:      # also NaN (reference ell_set.cpp)
            raise ValueError("major axis or radius = 0 or not given")
        f = 1.0 / self.rf if self.rf else 0.0
        if not 0.0 <= f < 1.0:  # b <= 0, or a prolate or NaN shape
            raise ValueError(f"invalid flattening {f!r}")
        es = 2 * f - f * f
        object.__setattr__(self, "f", f)
        object.__setattr__(self, "b", self.a * (1.0 - f))
        object.__setattr__(self, "es", es)
        object.__setattr__(self, "e", math.sqrt(es))
        object.__setattr__(self, "one_es", 1.0 - es)
        object.__setattr__(self, "e2s", es / (1.0 - es) if es < 1.0 else float("inf"))
        object.__setattr__(self, "n", f / (2.0 - f))
        object.__setattr__(self, "ra", 1.0 / self.a)

    @property
    def is_sphere(self) -> bool:
        return self.es == 0.0

    @staticmethod
    def sphere(R: float, name: str = "sphere") -> "Ellipsoid":
        return Ellipsoid(name=name, a=R, rf=0.0)


# The handful of ellipsoids the gie fixture corpus exercises
# (reference data: /root/reference/src/ell_set.cpp + data/proj.db seeds).
ELLIPSOIDS: dict[str, Ellipsoid] = {
    "GRS80": Ellipsoid("GRS80", 6378137.0, 298.257222101),
    "WGS84": Ellipsoid("WGS84", 6378137.0, 298.257223563),
    "bessel": Ellipsoid("bessel", 6377397.155, 299.1528128),
    "intl": Ellipsoid("intl", 6378388.0, 297.0),
    "clrk66": Ellipsoid("clrk66", 6378206.4, 294.9786982138982),
    "sphere": Ellipsoid("sphere", 6370997.0, 0.0),
    "aust_SA": Ellipsoid("aust_SA", 6378160.0, 298.25),
    # pj_ellps.c registry additions the wider corpus references
    "clrk80": Ellipsoid("clrk80", 6378249.145, 293.4663),
    "clrk80ign": Ellipsoid("clrk80ign", 6378249.2, 293.4660212936269),
    "krass": Ellipsoid("krass", 6378245.0, 298.3),
    "airy": Ellipsoid("airy", 6377563.396, 299.3249646),
    "WGS72": Ellipsoid("WGS72", 6378135.0, 298.26),
    "GRS67": Ellipsoid("GRS67", 6378160.0, 298.2471674270),
    "helmert": Ellipsoid("helmert", 6378200.0, 298.3),
    "evrst30": Ellipsoid("evrst30", 6377276.345, 300.8017),
    # mod_airy is defined by a/b in pj_ellps.c: a=6377340.189 b=6356034.446
    "mod_airy": Ellipsoid("mod_airy", 6377340.189,
                          6377340.189 / (6377340.189 - 6356034.446)),
}


def _spherify(ell: Ellipsoid, params: dict) -> Ellipsoid:
    """PROJ's +R_* sphere-ification modifiers (reference
    src/ell_set.cpp:357-452 pj_ell_set 'spherification')."""
    import math as _m

    mods = [m for m in ("R_A", "R_V", "R_a", "R_g", "R_h",
                        "R_lat_a", "R_lat_g", "R_C") if m in params]
    if not mods:
        return ell
    mod = mods[0]
    a, b, es = ell.a, ell.b, ell.es
    if mod == "R_A":    # same surface area
        a *= 1.0 - es * (1.0 / 6.0 + es * (17.0 / 360.0 + es * 67.0 / 3024.0))
    elif mod == "R_V":  # same volume
        a *= 1.0 - es * (1.0 / 6.0 + es * (5.0 / 72.0 + es * 55.0 / 1296.0))
    elif mod == "R_a":
        a = 0.5 * (a + b)
    elif mod == "R_g":
        a = _m.sqrt(a * b)
    elif mod == "R_h":
        if a + b == 0:
            raise ValueError("R_h: a + b == 0")
        a = 2.0 * a * b / (a + b)
    elif mod in ("R_lat_a", "R_lat_g"):
        phi = _m.radians(float(params[mod]))
        t = 1.0 - es * _m.sin(phi) ** 2
        if t <= 0:
            raise ValueError(f"{mod}: invalid latitude")
        if mod == "R_lat_a":  # arithmetic mean of principal radii
            a *= (1.0 - es + t) / (2.0 * t * _m.sqrt(t))
        else:                 # geometric mean
            a *= _m.sqrt(1.0 - es) / t
    elif mod == "R_C":
        # conformal sphere radius at phi0 — but pj_ell_set runs before
        # P->phi0 is parsed, so the reference observably evaluates this at
        # phi0 = 0 even with +lat_0 present (builtins.gie merc +R_C
        # +lat_0=45 expects R == b): mirror that
        t = 1.0
        a *= _m.sqrt(1.0 - es) / t
    return Ellipsoid.sphere(a, name=f"{ell.name}_{mod}")


def resolve_ellipsoid(params: dict) -> Ellipsoid:
    """Resolve an ellipsoid from proj-string-style params.

    Accepts ``ellps=NAME``, ``R=<radius>``, or ``a=<m>`` with ``rf=`` / ``b=``,
    plus the +R_A/+R_V/+R_a/+R_g/+R_h/+R_lat_*/+R_C sphere-ifications.
    """
    base = _resolve_base(params)
    return _spherify(base, params)


def _shape_rf(a: float, params: dict) -> float | None:
    """Inverse flattening from whichever shape param is present
    (+rf / +f / +b / +es; reference ell_set.cpp ellps_shape)."""
    import math as _m

    if "rf" in params:
        return float(params["rf"])
    if "f" in params:
        f = float(params["f"])
        return (1.0 / f) if f != 0 else 0.0
    if "es" in params:
        es = float(params["es"])
        if es == 0:
            return 0.0
        f = 1.0 - _m.sqrt(1.0 - es)
        return 1.0 / f
    if "e" in params:
        e = float(params["e"])
        if e == 0:
            return 0.0
        f = 1.0 - _m.sqrt(1.0 - e * e)
        return 1.0 / f
    if "b" in params:
        b = float(params["b"])
        if b == a:
            return 0.0
        return a / (a - b)
    return None


def _resolve_base(params: dict) -> Ellipsoid:
    if "ellps" in params:
        try:
            base = ELLIPSOIDS[params["ellps"]]
        except KeyError:
            raise ValueError(f"unknown ellps {params['ellps']!r}") from None
        # explicit size/shape params OVERRIDE the named ellipsoid's
        # (reference ell_set.cpp: +a/+b/+rf/+f/+es take precedence,
        # missing pieces fall back to the ellps definition)
        a = float(params["a"]) if "a" in params else base.a
        rf = _shape_rf(a, params)
        if rf is None:
            rf = base.rf
        if a == base.a and rf == base.rf:
            return base
        return Ellipsoid("custom", a, rf)
    if "R" in params:
        return Ellipsoid.sphere(float(params["R"]))
    if "a" in params:
        a = float(params["a"])
        rf = _shape_rf(a, params)
        if rf is None or rf == 0.0:
            return Ellipsoid.sphere(a, name="custom")
        return Ellipsoid("custom", a, rf)
    # PROJ defaults to GRS80 for most modern ops
    return ELLIPSOIDS["GRS80"]
