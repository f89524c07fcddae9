"""session.get_spark's driver-memory default, checked without a session."""

from __future__ import annotations

import os

import pytest

from split_ner_spark import session

_PAGE = 4096


@pytest.mark.parametrize("gib, want", [(16, "8g"), (256, "32g"), (1, "1g")])
def test_default_driver_mem_is_half_the_box_capped(monkeypatch, gib, want):
    sizes = {"SC_PHYS_PAGES": gib * 1024**3 // _PAGE, "SC_PAGE_SIZE": _PAGE}
    monkeypatch.setattr(os, "sysconf", sizes.__getitem__)
    assert session._default_driver_mem() == want
