"""Pages depend only on the input, the policy and the compression.

Every chunk of a generated source-repo corpus is encoded with ``auto``
under ``uncompressed`` and ``gzip`` in this process (C kernels loaded)
and again in a subprocess on the numpy fallbacks; every page byte must
be identical.  The corpus holds the chunks whose codec choice used to
depend on the kernel: ``commit`` under ``uncompressed`` and ``content``
under ``gzip`` (FSST with the kernel, RLE_DICTIONARY / DLBA without).
"""

import hashlib
import json
import os
import subprocess
import sys

import numpy as np
import pytest

from parquet4seastar_spark.codecs import _native
from parquet4seastar_spark.codecs.pages import encode_chunk
from parquet4seastar_spark.engine.generator import _gen_batch

_TESTS = os.path.dirname(os.path.abspath(__file__))
_ROOT = os.path.dirname(_TESTS)


def _page_digests() -> dict:
    """(column/slice/compression) -> [sha256 of every page field, encodings]."""
    batch = _gen_batch(np.arange(5_000), 200, 7, 1.1)
    out = {}
    for name, col in zip(batch.schema.names, batch.columns):
        for s in range(2):
            for comp in ("uncompressed", "gzip"):
                chunk = encode_chunk(col.slice(s * 2500, 2500), policy="auto", compression=comp)
                h = hashlib.sha256()
                for p in chunk.pages:
                    h.update(repr((p.kind, p.encoding, p.num_values, p.num_non_null,
                                   p.uncompressed_size, p.compressed_size)).encode())
                    h.update(p.data)
                out[f"{name}/{s}/{comp}"] = [h.hexdigest(), chunk.encodings]
    return out


_CHILD = (
    "import json, sys\n"
    f"sys.path[:0] = [{_ROOT!r}, {_TESTS!r}]\n"
    "from test_page_parity import _page_digests\n"
    "from parquet4seastar_spark.codecs import _native\n"
    "digests = _page_digests()\n"
    "print(json.dumps({'kernel': _native.get_kernel() is not None,\n"
    "                  'error': _native.error, 'digests': digests}))\n"
)


def _run_child(env: dict) -> tuple[dict, str]:
    r = subprocess.run(
        [sys.executable, "-c", _CHILD], env=env, capture_output=True, text=True, timeout=600
    )
    assert r.returncode == 0, r.stderr
    return json.loads(r.stdout.strip().splitlines()[-1]), r.stderr


@pytest.fixture(scope="module")
def native_digests():
    if _native.get_kernel() is None:
        pytest.skip("no C kernel on this host: nothing to compare the fallback with")
    digests = _page_digests()
    # the corpus must reach the kernel-sensitive choices, or the test proves nothing
    assert digests["commit/0/uncompressed"][1] == ["FSST"]
    assert digests["content/0/gzip"][1] == ["FSST"]
    return digests


def test_pages_identical_without_native_kernel(native_digests):
    out, stderr = _run_child(dict(os.environ, P4S_NO_NATIVE="1"))
    assert not out["kernel"] and out["error"] is None
    assert "RuntimeWarning" not in stderr  # a forced fallback is not a failure
    differ = {k: (v[1], out["digests"][k][1]) for k, v in native_digests.items()
              if out["digests"][k][0] != v[0]}
    assert not differ
    assert out["digests"] == native_digests


def test_kernel_build_failure_warns_and_keeps_pages(native_digests, tmp_path):
    """No ``cc`` on PATH and an empty kernel cache: the build fails, the
    reason is kept in ``_native.error`` and named in exactly one
    RuntimeWarning, and the fallback writes the same pages."""
    bare = tmp_path / "bin"
    bare.mkdir()
    env = {k: v for k, v in os.environ.items() if k != "P4S_NO_NATIVE"}
    env.update(PATH=str(bare), XDG_CACHE_HOME=str(tmp_path / "cache"))
    out, stderr = _run_child(env)
    assert not out["kernel"]
    assert "FileNotFoundError" in out["error"] and "'cc'" in out["error"]
    assert stderr.count("RuntimeWarning") == 1, stderr
    assert "native kernel unavailable" in stderr and "'cc'" in stderr
    assert out["digests"] == native_digests
