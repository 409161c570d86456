import contextlib
import gc
import os
import sys
import threading

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from gdelt_extractor_spark.session import get_spark  # noqa: E402

SF0001 = "/root/testdata/sf0.001"
SF001 = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("gdelt-extractor-tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF0001


@pytest.fixture(scope="session")
def sf_dir_mid():
    return SF001


@pytest.fixture
def driver_cap(monkeypatch):
    """Set the bounded driver-finish cap (``operators._finish``) for
    one test: ``driver_cap(-1)`` sends every operator down its
    distributed route, a small cap sends only frames above it."""
    from gdelt_extractor_spark.operators import _finish

    return lambda rows: monkeypatch.setattr(_finish, "DRIVER_FINISH_ROWS", rows)


@pytest.fixture
def spy(monkeypatch):
    """``calls = spy(module, "fn")`` wraps ``module.fn`` for one test;
    each call appends to ``calls``, so a test observes which route
    ran instead of inferring it from equal outputs."""

    def install(module, name):
        calls = []
        real = getattr(module, name)

        def wrapper(*args, **kwargs):
            calls.append(1)
            return real(*args, **kwargs)

        monkeypatch.setattr(module, name, wrapper)
        return calls

    return install


@pytest.fixture
def round_trips(spark):
    """``with round_trips() as calls: ...`` counts the commands the
    Python driver sends the JVM over the Py4J gateway inside the
    block (``len(calls)`` after).  Python's cyclic GC is collected
    before and paused during the block, and only the block's own
    thread is counted: Py4J's finalizer thread sends the deletes of
    freed JVM references whenever it gets to them, so a count does
    not depend on when earlier garbage frees its JVM references."""
    client = spark.sparkContext._gateway._gateway_client

    @contextlib.contextmanager
    def count():
        calls = []
        real = client.send_command
        owner = threading.get_ident()

        def wrapper(*args, **kwargs):
            if threading.get_ident() == owner:
                calls.append(1)
            return real(*args, **kwargs)

        gc.collect()
        gc.disable()
        client.send_command = wrapper
        try:
            yield calls
        finally:
            del client.send_command  # the class's method again
            gc.enable()

    return count
