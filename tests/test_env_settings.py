"""The package reads only deployment settings from the environment.

Tuning values are module constants; a new ``SPARK_GRAFT_*`` variable
has to be added to this list on purpose.
"""

from __future__ import annotations

import pathlib
import re

import aiesec_guc_spark

DEPLOYMENT_SETTINGS = {
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_MASTER",
    "SPARK_GRAFT_DRIVER_MEM",
    "SPARK_GRAFT_EXTRA_JAVA_OPTS",
    "SPARK_GRAFT_CHECKPOINT",
    "SPARK_GRAFT_CHECKPOINT_DIR",
    "SPARK_GRAFT_SMTP_USER",
    "SPARK_GRAFT_SMTP_PASSWORD",
}


def test_env_vars_are_the_deployment_settings():
    root = pathlib.Path(aiesec_guc_spark.__file__).parent
    names = {
        m
        for f in root.rglob("*.py")
        for m in re.findall(r"SPARK_GRAFT_[A-Z_]+", f.read_text(encoding="utf-8"))
    }
    assert names == DEPLOYMENT_SETTINGS
