"""Silent-wrong-result guards must still raise under ``python -O``,
which strips ``assert`` statements."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = textwrap.dedent(
    """
    import numpy as np
    import pandas as pd

    from rust_etl_spark.operators.dedup import _simhash_batches
    from rust_etl_spark.sinks import zorder_key


    def raises(fn):
        try:
            fn()
        except ValueError as e:
            return str(e)
        return None


    th = pd.DataFrame({"doc_id": [1, 2], "th": [np.asarray([7], np.int64), np.asarray([], np.int64)]})
    print(raises(lambda: list(_simhash_batches()([th]))))
    print(raises(lambda: zorder_key(None, None, bits=32)))
    print(__debug__)
    """
)


def test_zorder_and_simhash_guards_raise_under_dash_O():
    out = subprocess.run(
        [sys.executable, "-O", "-c", _SCRIPT], cwd=ROOT, capture_output=True, text=True, timeout=120
    )
    assert out.returncode == 0, out.stderr
    simhash, zorder, debug = out.stdout.strip().splitlines()[-3:]
    assert debug == "False"  # asserts really were stripped in the child
    assert "empty th segment" in simhash
    assert "sign bit" in zorder
