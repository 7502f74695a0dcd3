import pytest

from mcp_ocr_server_spark.config import FIXTURE_JOB
from mcp_ocr_server_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="pytest", master="local[8]", cfg=FIXTURE_JOB, jvm_heavy=True
    )
    yield s
