"""Every forced broadcast in the package says why it is there. Needs no
Spark session.

The session's ``autoBroadcastJoinThreshold`` already broadcasts any side
the planner estimates small, and a hint stops the planner switching to a
shuffle join once that side outgrows the threshold. So a hint stays only
where the planner picks a worse plan without it, and a ``#`` comment on
its line or the line above says what that plan is."""

from pathlib import Path

import bioeco_portal_etl_spark

PKG = Path(bioeco_portal_etl_spark.__file__).parent


def test_every_broadcast_hint_has_a_reason():
    bare = []
    for path in sorted(PKG.rglob("*.py")):
        lines = path.read_text().splitlines()
        for i, line in enumerate(lines):
            if "F.broadcast(" in line and "#" not in line and not lines[i - 1].lstrip().startswith("#"):
                bare.append(f"{path.relative_to(PKG)}:{i + 1}")
    assert not bare, bare
