"""Output checks against the oracle expectations of inputs.py.

Each check raises `Mismatch` naming the first differing keys; the worker
counts that operation as failed.
"""

from __future__ import annotations

TILE_CODES = ("aez_code", "slope_code", "lu_code", "soil_code")
KM2_ATOL = 0.011  # tests/test_parity_aez.py: km² rounded to 2 decimals, atol


class Mismatch(AssertionError):
    pass


def _diff(got: dict, want: dict, close=None) -> None:
    keys = sorted(set(got) | set(want))
    bad = [k for k in keys if k not in got or k not in want
           or not (close(got[k], want[k]) if close else got[k] == want[k])]
    if bad:
        sample = ", ".join(f"{k}: got {got.get(k)} want {want.get(k)}"
                           for k in bad[:5])
        raise Mismatch(f"{len(bad)} of {len(keys)} keys differ ({sample})")


def zone_counts(rows, want: dict) -> None:
    """Distinct docs per (country, aez_code), exact."""
    _diff({f"{r['country']}|{r['aez_code']}": int(r["n_docs"]) for r in rows},
          want)


def aez_km2(rows, want: dict) -> None:
    """raster_zonal: km² per (country, class) within the parity tolerance."""
    _diff({f"{r['country']}|{r['class']}": float(r["km2"]) for r in rows},
          want, close=lambda g, w: abs(round(g, 2) - round(w, 2)) <= KM2_ATOL)


def tiles_histogram(rows, want: dict) -> None:
    """raster_zonal: pixel count per tile-code tuple, exact."""
    _diff({"|".join(str(r[c]) for c in TILE_CODES): int(r["count"])
           for r in rows}, want)


def same_rows(got, want) -> None:
    """Two sorted arrays of row keys are the same multiset."""
    if len(got) != len(want) or (got != want).any():
        n = min(len(got), len(want))
        first = int((got[:n] != want[:n]).argmax()) if n else 0
        raise Mismatch(f"{len(got)} rows vs {len(want)} expected; first "
                       f"difference at sorted position {first}")
