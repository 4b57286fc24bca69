import os
import sys
from pathlib import Path

import pytest

#: the checkout these tests belong to. The package and the jobs/ scripts
#: (imported as top-level modules, e.g. ``from dedup_job import ...``, or
#: run as subprocesses) are taken from here, never from another copy.
REPO_DIR = Path(__file__).resolve().parent.parent
JOBS_DIR = REPO_DIR / "jobs"
sys.path[:0] = [str(JOBS_DIR), str(REPO_DIR)]
# the Spark Python workers import the package too
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (str(REPO_DIR), os.environ.get("PYTHONPATH")) if p
)

from mistral_ocr_app_spark.fixtures.transcripts import write_fixture  # noqa: E402
from mistral_ocr_app_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(cores=8, shuffle_partitions=16, app_name="tests")
    yield s


@pytest.fixture(scope="session")
def fixture_paths(tmp_path_factory):
    out = tmp_path_factory.mktemp("transcripts_small")
    return write_fixture(str(out), n_convs=40, seed=42, heavy_convs=2, heavy_turns=150)
