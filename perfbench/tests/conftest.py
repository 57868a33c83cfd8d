import os
import shutil
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, REPO)


@pytest.fixture(scope="session")
def work_root():
    root = os.path.join(REPO, ".perfbench_work", f"tests-{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    yield root
    shutil.rmtree(root, ignore_errors=True)


@pytest.fixture(scope="session")
def spark(work_root):
    from perfbench import run

    run.prepare_env(work_root)
    s = run.start_spark(work_root)
    yield s
    run.stop_spark(s)
