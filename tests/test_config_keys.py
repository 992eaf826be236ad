"""The package reads exactly these `spark.nametag.*` session keys. A new
key is added here deliberately, together with the test or workload that
sets it."""

import ast
import pathlib

import nametag_spark

EXPECTED = {
    "spark.nametag.cc.driverEdgeCap",  # tests force the CC tiers with it
    "spark.nametag.cc.driverNodeCap",
    "spark.nametag.cc.spillDir",  # deployment path
}


def test_spark_nametag_config_keys():
    root = pathlib.Path(nametag_spark.__file__).parent
    found = {
        node.value
        for path in root.rglob("*.py")
        for node in ast.walk(ast.parse(path.read_text(encoding="utf-8")))
        if isinstance(node, ast.Constant)
        and isinstance(node.value, str)
        and node.value.startswith("spark.nametag.")
    }
    assert found == EXPECTED
