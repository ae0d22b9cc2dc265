"""The ``spark-submit --py-files`` bundle is zipped from the tree on every
scaling-bench run (``scripts/scaling_bench.build_pyfiles``), so it carries
exactly the package source it sits beside — never a stale copy."""

import importlib.util
import os
import subprocess
import sys
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "osm_coverage_spark"


def _build(dest_dir) -> str:
    spec = importlib.util.spec_from_file_location(
        "scaling_bench", os.path.join(REPO, "scripts", "scaling_bench.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.build_pyfiles(str(dest_dir))


def _tree_sources() -> dict[str, bytes]:
    out = {}
    for root, _dirs, files in os.walk(os.path.join(REPO, PKG)):
        for f in files:
            if f.endswith(".py"):
                p = os.path.join(root, f)
                with open(p, "rb") as fh:
                    out[os.path.relpath(p, REPO)] = fh.read()
    return out


def test_bundle_equals_tree_sources(tmp_path):
    with zipfile.ZipFile(_build(tmp_path)) as z:
        names = z.namelist()
        bundled = {n: z.read(n) for n in names}
    tree = _tree_sources()
    assert names == sorted(tree)
    assert bundled == tree


def test_bundle_imports_through_zipimport(tmp_path):
    """A fresh interpreter that cannot see the repo imports the session
    module from the bundle alone, as an executor given --py-files does."""
    path = _build(tmp_path)
    code = (
        "import sys; sys.path.insert(0, sys.argv[1]); "
        "import osm_coverage_spark.session as s; print(s.__file__)"
    )
    out = subprocess.run(
        [sys.executable, "-I", "-c", code, path],
        cwd=tmp_path, capture_output=True, text=True, check=True,
    )
    assert out.stdout.strip() == os.path.join(path, PKG, "session.py")
