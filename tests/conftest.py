import pytest

from lsh_hdc_spark import get_spark

SF0001 = "/root/testdata/sf0.001"
SF001 = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    return get_spark(cores=4, shuffle_partitions=8, app_name="pytest")


@pytest.fixture(scope="session")
def documents(spark):
    return spark.read.parquet(f"{SF0001}/documents.parquet")


@pytest.fixture()
def crash_between_swaps(monkeypatch):
    """Arm with the returned function: from then on the first os.rename
    after one staged (.rebuild) table has gone live raises — a rebuild
    that dies between two tables' swaps.  monkeypatch.undo() disarms."""
    import os

    def arm():
        real = os.rename
        swapped = []

        def rename(src, dst):
            if swapped:
                raise OSError("simulated crash between table swaps")
            real(src, dst)
            if src.endswith(".rebuild"):
                swapped.append(dst)

        monkeypatch.setattr(os, "rename", rename)

    return arm
