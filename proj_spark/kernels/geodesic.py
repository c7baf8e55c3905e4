"""Geodesic inverse on the ellipsoid — Vincenty (1975), vectorized.

The reference ships Karney's algorithms (/root/reference/src/geodesic.c, a
transcription of GeographicLib; Karney 2013, doi:10.1007/s00190-012-0578-z)
with ~1e-9 m accuracy including antipodal pairs. We implement Vincenty's
classical series instead (T. Vincenty, Survey Review XXIII/176, 1975 —
public formulas): ~0.5 mm accuracy, with the known caveat that the inverse
iteration converges slowly or fails for nearly-antipodal points — callers
see ``done=False`` for those and the returned values are the last Vincenty
iterate, which carries NO accuracy guarantee (can be km-level off near the
antipode). Filter on the mask before trusting s12/azi.

For everywhere-convergent geodesics (including antipodal) use
``kernels.karney`` — the full Karney (2013) port, validated against the
reference's embedded GeographicLib test set. Vincenty is retained here
because its lambda iteration has an exact recursive-CTE SQL mirror
(oracles.vincenty_inverse_sql) giving a hard DuckDB oracle row, and as an
independent cross-check of Karney on non-antipodal pairs.

All iteration is fixed-trip with convergence masks (Arrow-batch safe).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from proj_spark.crs import Ellipsoid
from proj_spark.kernels.karney import lat_fix


@dataclass(frozen=True)
class VinConsts:
    a: float
    b: float
    f: float


def setup_vincenty(ell: Ellipsoid) -> VinConsts:
    return VinConsts(ell.a, ell.b, ell.f)


def geod_inverse(lon1, lat1, lon2, lat2, C: VinConsts, iters: int = 50):
    """degrees -> (s12 metres, azi1 deg, azi2 deg, converged mask); a
    latitude beyond +-90 gives NaN."""
    lon1 = np.radians(np.asarray(lon1, dtype=np.float64))
    lat1 = np.radians(lat_fix(np.asarray(lat1, dtype=np.float64)))
    lon2 = np.radians(np.asarray(lon2, dtype=np.float64))
    lat2 = np.radians(lat_fix(np.asarray(lat2, dtype=np.float64)))
    f, a, b = C.f, C.a, C.b

    U1 = np.arctan((1.0 - f) * np.tan(lat1))
    U2 = np.arctan((1.0 - f) * np.tan(lat2))
    L = lon2 - lon1
    sinU1, cosU1 = np.sin(U1), np.cos(U1)
    sinU2, cosU2 = np.sin(U2), np.cos(U2)

    lam = L.copy()
    done = np.zeros(lam.shape, dtype=bool)
    with np.errstate(divide="ignore", invalid="ignore"):
        for _ in range(iters):
            sinl, cosl = np.sin(lam), np.cos(lam)
            sin_sig = np.hypot(cosU2 * sinl, cosU1 * sinU2 - sinU1 * cosU2 * cosl)
            cos_sig = sinU1 * sinU2 + cosU1 * cosU2 * cosl
            sig = np.arctan2(sin_sig, cos_sig)
            sin_alpha = np.where(sin_sig == 0, 0.0, cosU1 * cosU2 * sinl / sin_sig)
            cos2_alpha = 1.0 - sin_alpha * sin_alpha
            cos_2sigm = np.where(
                cos2_alpha == 0, 0.0, cos_sig - 2.0 * sinU1 * sinU2 / cos2_alpha
            )
            Cc = f / 16.0 * cos2_alpha * (4.0 + f * (4.0 - 3.0 * cos2_alpha))
            lam_new = L + (1.0 - Cc) * f * sin_alpha * (
                sig + Cc * sin_sig * (
                    cos_2sigm + Cc * cos_sig * (-1.0 + 2.0 * cos_2sigm ** 2)
                )
            )
            newly = np.abs(lam_new - lam) < 1e-13
            lam = np.where(done, lam, lam_new)
            done |= newly
            if done.all():
                break

        # Recompute every sigma-quantity from the FINAL lam so a row's
        # result is a pure function of its own frozen iterate — independent
        # of how long the loop ran for OTHER rows in the batch (Arrow batch
        # boundaries must not perturb results; also what the SQL oracle
        # mirrors row-by-row).
        sinl, cosl = np.sin(lam), np.cos(lam)
        sin_sig = np.hypot(cosU2 * sinl, cosU1 * sinU2 - sinU1 * cosU2 * cosl)
        cos_sig = sinU1 * sinU2 + cosU1 * cosU2 * cosl
        sig = np.arctan2(sin_sig, cos_sig)
        sin_alpha = np.where(sin_sig == 0, 0.0, cosU1 * cosU2 * sinl / sin_sig)
        cos2_alpha = 1.0 - sin_alpha * sin_alpha
        cos_2sigm = np.where(
            cos2_alpha == 0, 0.0, cos_sig - 2.0 * sinU1 * sinU2 / cos2_alpha
        )

        u2 = cos2_alpha * (a * a - b * b) / (b * b)
        A = 1.0 + u2 / 16384.0 * (4096.0 + u2 * (-768.0 + u2 * (320.0 - 175.0 * u2)))
        B = u2 / 1024.0 * (256.0 + u2 * (-128.0 + u2 * (74.0 - 47.0 * u2)))
        dsig = B * sin_sig * (
            cos_2sigm + B / 4.0 * (
                cos_sig * (-1.0 + 2.0 * cos_2sigm ** 2)
                - B / 6.0 * cos_2sigm * (-3.0 + 4.0 * sin_sig ** 2)
                * (-3.0 + 4.0 * cos_2sigm ** 2)
            )
        )
        s12 = b * A * (sig - dsig)
        azi1 = np.degrees(np.arctan2(cosU2 * np.sin(lam),
                                     cosU1 * sinU2 - sinU1 * cosU2 * np.cos(lam)))
        azi2 = np.degrees(np.arctan2(cosU1 * np.sin(lam),
                                     -sinU1 * cosU2 + cosU1 * sinU2 * np.cos(lam)))
    coincident = (sin_sig == 0) & done
    s12 = np.where(coincident, 0.0, s12)
    return s12, azi1, azi2, done
