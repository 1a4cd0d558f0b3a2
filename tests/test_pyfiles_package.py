"""The committed spark-submit package must track the source tree:
a module added without `python jobs/build_pyfiles.py` would deploy an
engine silently missing it (this bit round 5 — the zip predated six
round-5 modules)."""

import pathlib
import zipfile

REPO = pathlib.Path(__file__).resolve().parent.parent
ZIP = REPO / "dist" / "hoopstat_haus_spark.zip"
PKG = REPO / "hoopstat_haus_spark"


def test_zip_matches_source_tree():
    with zipfile.ZipFile(ZIP) as z:
        entries = {n: z.read(n) for n in z.namelist() if n.endswith(".py")}
    sources = set()
    for src in sorted(PKG.rglob("*.py")):
        if "__pycache__" in src.parts:
            continue
        name = src.relative_to(REPO).as_posix()
        sources.add(name)
        assert name in entries, f"{name} missing from dist zip — rebuild jobs/build_pyfiles.py"
        assert entries[name] == src.read_bytes(), f"{name} stale in dist zip — rebuild"
    # a deleted module must not stay deployed
    extra = sorted(set(entries) - sources)
    assert not extra, f"{extra} in dist zip but not in the source tree — rebuild"
