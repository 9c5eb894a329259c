"""The spark-submit --py-files zip is a build product of the source tree,
not a committed file: scripts/make_pyfiles_zip.sh must build a zip that a
bare interpreter (no PYTHONPATH, not run from the checkout) imports the
library from — the same resolution an executor does with --py-files."""

import os
import pathlib
import subprocess
import sys

REPO = pathlib.Path(__file__).resolve().parent.parent


def test_pyfiles_zip_builds_and_imports_from_zip(tmp_path):
    zpath = tmp_path / "mashing_pumpkins_spark.zip"
    subprocess.run(
        ["sh", str(REPO / "scripts" / "make_pyfiles_zip.sh"), str(zpath)],
        check=True,
        capture_output=True,
    )
    assert zpath.is_file()
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    probe = (
        "import sys; sys.path.insert(0, sys.argv[1]); "
        "import mashing_pumpkins_spark.operators.verify as m; print(m.__file__)"
    )
    out = subprocess.run(
        [sys.executable, "-c", probe, str(zpath)],
        cwd=tmp_path,
        env=env,
        check=True,
        capture_output=True,
        text=True,
    )
    module_file = out.stdout.strip().splitlines()[-1]
    assert module_file.startswith(str(zpath) + os.sep), module_file
