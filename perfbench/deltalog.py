"""A small, independent reader of a Delta table's ``_delta_log``.

It replays the JSON commits in version order (the protocol's add /
remove reconciliation) and reports what each commit did.  It reads no
checkpoint contents: every commit file stays in the log, so the JSON
replay alone gives the latest state, and checkpoints are only counted.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field
from pathlib import Path
from urllib.parse import unquote

_COMMIT = re.compile(r"^(\d{20})\.json$")
_CHECKPOINT = re.compile(r"^(\d{20})\.checkpoint(\.\d+\.\d+)?\.parquet$")


@dataclass
class CommitStats:
    version: int
    files_added: int = 0
    files_removed: int = 0
    bytes_added: int = 0
    actions: int = 0


@dataclass
class LogState:
    version: int = -1
    live: dict[str, dict] = field(default_factory=dict)  # path -> add action
    commits: list[CommitStats] = field(default_factory=list)
    checkpoints: list[int] = field(default_factory=list)
    live_counts: dict[int, int] = field(default_factory=dict)  # version -> live files

    def actions_to_replay(self) -> int:
        """Actions a reader replays for the latest snapshot: the live
        files the newest checkpoint holds plus every action committed
        after it; with no checkpoint, the whole log."""
        last_cp = self.checkpoints[-1] if self.checkpoints else -1
        after = sum(c.actions for c in self.commits if c.version > last_cp)
        return after + self.live_counts.get(last_cp, 0)


def read_log(log_dir: Path) -> LogState:
    """Replay every JSON commit under ``log_dir``."""
    state = LogState()
    if not log_dir.is_dir():
        return state
    versions = []
    for p in log_dir.iterdir():
        m = _COMMIT.match(p.name)
        if m:
            versions.append((int(m.group(1)), p))
        elif _CHECKPOINT.match(p.name):
            state.checkpoints.append(int(p.name[:20]))
    state.checkpoints = sorted(set(state.checkpoints))
    for version, path in sorted(versions):
        stats = CommitStats(version)
        for line in path.read_text().splitlines():
            if not line.strip():
                continue
            action = json.loads(line)
            stats.actions += 1
            if "add" in action:
                add = action["add"]
                state.live[unquote(add["path"])] = add
                stats.files_added += 1
                stats.bytes_added += int(add.get("size") or 0)
            elif "remove" in action:
                state.live.pop(unquote(action["remove"]["path"]), None)
                stats.files_removed += 1
        state.commits.append(stats)
        state.live_counts[version] = len(state.live)
        state.version = version
    return state
