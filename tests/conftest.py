import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def needs_schemas(*paths: str):
    """Skip a test unless every reference jsonschema it opens is on disk."""
    missing = [p for p in paths if not os.path.exists(p)]
    return pytest.mark.skipif(
        bool(missing), reason=f"reference jsonschema not found: {', '.join(missing)}")


@pytest.fixture(scope="session")
def spark():
    from dbt_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    return get_spark("tests")


@pytest.fixture()
def project_dir(tmp_path):
    """Build a project directory from a {relpath: content} dict (the reference's
    inline-fixture style, core/dbt/tests/fixtures/project.py)."""

    def build(files: dict[str, str]) -> str:
        for rel, content in files.items():
            p = tmp_path / rel
            p.parent.mkdir(parents=True, exist_ok=True)
            p.write_text(content)
        return str(tmp_path)

    return build


SF_DIR = "/root/testdata/sf0.001"
SF_DIR_MED = "/root/testdata/sf0.01"
