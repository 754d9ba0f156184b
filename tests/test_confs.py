"""Every `spark.kg.*` conf named under kg/ is documented in README.md, and
README documents no other: a new conf cannot land undocumented."""

from __future__ import annotations

import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parents[1]
CONF_RE = re.compile(r"spark\.kg\.[A-Za-z_]+(?:\.[A-Za-z_]+)*")


def _confs(text: str) -> set[str]:
    return set(CONF_RE.findall(text))


def test_spark_kg_confs_match_readme():
    in_code = set()
    for path in (ROOT / "kg").rglob("*.py"):
        in_code |= _confs(path.read_text(encoding="utf-8"))
    documented = _confs((ROOT / "README.md").read_text(encoding="utf-8"))
    assert in_code == documented
    assert in_code == {
        "spark.kg.broadcastRowThreshold",
        "spark.kg.extract.impl",
        "spark.kg.extract.autoThresholdTurns",
        "spark.kg.extract.partitions",
    }
