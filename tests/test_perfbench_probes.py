"""The traced benchmark run wraps named attributes of ``cloudfloe_spark``
(``perfbench/probes.py``). Installing and uninstalling the probes here
makes a rename of any of them fail the suite, not only a traced run."""

from __future__ import annotations

import inspect

from perfbench import probes
from perfbench.trace import Tracer


def test_probes_install_and_uninstall(spark):
    tracer = Tracer()
    try:
        probes.install(tracer, spark)
        wrapped = list(tracer._undo)
        assert wrapped
    finally:
        tracer.uninstall()
    for owner, attr, orig in wrapped:
        assert inspect.getattr_static(owner, attr) is orig
