"""Guard on the process-wide env knobs: every ``SEISMIC_*`` name the
package reads must be on this explicit list, so a removed switch cannot
silently come back and a new knob needs a visible edit here (and in the
README's knob list)."""

import pathlib
import re

ALLOWED = {
    # size budgets of the in-process / driver-side formulations
    "SEISMIC_BRUTE_LOCAL_MAX_ELEMS",
    "SEISMIC_DRIVER_GAPS_MAX_ROWS",
    "SEISMIC_DRIVER_THETA_MAX",
    "SEISMIC_DRIVER_THETA_MAX_ROWS",
    "SEISMIC_KNN_BCAST_MAX_BYTES",
    "SEISMIC_LOCAL_SCORE_MAX_BYTES",
    "SEISMIC_SCAN_PRUNE_MAX_IDS",
    "SEISMIC_VOCAB_MAP_MAX_TERMS",
    # process-wide side effects (session warmup, allocator policy)
    "SEISMIC_WARM_SESSION",
    "SEISMIC_MALLOC_TUNE",
}

_PKG = pathlib.Path(__file__).resolve().parent.parent / "seismic_spark"
_READ = re.compile(
    r"""(?:environ\.get|getenv)\(\s*["'](SEISMIC_\w+)["']"""
    r"""|environ\[\s*["'](SEISMIC_\w+)["']\s*\]"""
)


def _sources() -> list[str]:
    return [p.read_text(encoding="utf-8") for p in sorted(_PKG.rglob("*.py"))]


def test_env_knobs_match_allowlist():
    read = {a or b for src in _sources() for a, b in _READ.findall(src)}
    assert read == ALLOWED


def test_no_unlisted_knob_is_mentioned():
    """Docstrings and comments may only name knobs that exist."""
    named = {m for src in _sources() for m in re.findall(r"SEISMIC_\w+", src)}
    assert named <= ALLOWED, sorted(named - ALLOWED)


def test_readme_knob_list_matches_allowlist():
    readme = (_PKG.parent / "README.md").read_text(encoding="utf-8")
    assert set(re.findall(r"SEISMIC_\w+", readme)) == ALLOWED
