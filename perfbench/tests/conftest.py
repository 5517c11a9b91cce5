from __future__ import annotations

import os

import pytest

from perfbench.run import ROOT, start_spark, stop_spark


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("perfbench"))
    os.makedirs(f"{work}/tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [x for x in os.environ.get("PYTHONPATH", "").split(os.pathsep) if x])
    s = start_spark(2, work)
    yield s
    stop_spark(s)
