"""Toggle-creep guard: the package reads exactly the documented SVH_*
environment variables (README "Configuration"). Plan variants are A/B'd
parent-vs-change with perfbench, never by committing an env toggle."""

from __future__ import annotations

import pathlib
import re

import shortvideohybridanalyticslakehouse_spark as pkg

KEPT = {
    "SVH_ASSERT_TINY_FRAMES",
    "SVH_CC_BCAST_MAX_NODES",
    "SVH_DRIVER_MEMORY",
    "SVH_HITS_BCAST_MAX_NODES",
    "SVH_KS_SINGLEPASS",
    "SVH_SA_MAX_TOKENS",
}


def test_package_env_vars_are_the_documented_set():
    root = pathlib.Path(pkg.__file__).parent
    found: dict[str, set[str]] = {}
    for path in root.rglob("*.py"):
        for name in re.findall(r"SVH_[A-Z0-9_]+", path.read_text()):
            found.setdefault(name, set()).add(str(path.relative_to(root)))
    extra = {n: sorted(found[n]) for n in set(found) - KEPT}
    assert not extra, f"undocumented SVH_* env vars: {extra}"
    assert set(found) == KEPT, f"documented but unused: {KEPT - set(found)}"
