"""Every persisted artifact lives under the checkout's own
``spark-warehouse``: no engine source hard-codes an absolute path, and
each module-level artifact path constant derives from
``queries.base._repo_root()``. Spark-free (imports only)."""

import pathlib

import pytest

PKG = pathlib.Path(__file__).resolve().parent.parent / "openetl_spark"


def test_no_engine_source_hardcodes_an_absolute_root_path():
    offenders = [
        f"{p.relative_to(PKG.parent)}:{i}"
        for p in sorted(PKG.rglob("*.py"))
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if '"/root/' in line
    ]
    assert offenders == []


@pytest.mark.parametrize(
    "module,name",
    [
        ("relational_extra", "IVF_ORACLE_CENTROIDS"),
        ("media_mining", "MEDIA_FP_DIR"),
        ("analytics_r12", "NMI_ORACLE_DICT"),
        ("analytics_r12", "DP_ORACLE_BOUNDS"),
        ("warehouse_ann", "PQ_ORACLE_CODEBOOKS"),
        ("analytics_r07", "LPA_ORACLE_LABELS"),
        ("analytics_r09", "DSIR_ORACLE_RATIOS"),
        ("analytics_r10", "DSIR_ORACLE_RATIOS_GOPHER"),
    ],
)
def test_artifact_path_constants_live_under_the_checkout(module, name):
    import importlib

    from openetl_spark.queries import base

    path = getattr(importlib.import_module(f"openetl_spark.queries.{module}"), name)
    root = base._repo_root()
    assert root == str(PKG.parent)
    assert path.startswith(root + "/spark-warehouse/"), path
