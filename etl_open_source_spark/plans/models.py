"""Pipeline spec model — parity with the reference's persisted plan
(reference core/models.py:9-40: ConnectionConfig / Step / StepType /
ScheduledTask; persisted in SQLite by storage/repository.py, here as JSON
spec files — the reference's own declared-but-stubbed storage backend,
storage/json_storage.py).
"""

from __future__ import annotations

import json
from dataclasses import asdict, dataclass, field
from enum import Enum
from pathlib import Path


class StepType(str, Enum):
    EXTRACT = "extract"
    TRANSFORM = "transform"
    LOAD = "load"


@dataclass
class ConnectionConfig:
    """Connection registry entry (reference core/models.py:15-20; params =
    host/port/database/user/password/driver). For Spark: a reader/writer
    options dict keyed by format."""

    id: str
    name: str
    type: str  # any case: parquet|csv|json|jdbc|sqlserver|postgres|mysql|mongo (CONNECTORS)
    params: dict = field(default_factory=dict)


@dataclass
class Step:
    """One pipeline step (reference core/models.py:9-13,22-31).

    config, by step_type (no connection: the step's "format", default parquet):
      extract  : {"table"|"path": files} | {"query": Spark SQL}; jdbc family
                 {"table"} | {"query"}; mongo {} (the connection names it)
      transform: {"type": "sql"|"python"|"sanitize"|"expect"|"operator", ...}
      load     : {"path": ..., "mode": "append"|"replace"|"overwrite_partitions"
                 (parquet only)}; jdbc family {"table": ..., "mode": ...}
    """

    id: str
    name: str
    step_type: StepType
    order: int
    connection_id: str | None = None
    config: dict = field(default_factory=dict)


@dataclass
class PipelineSpec:
    """Named, cron-scheduled, ordered steps (reference ScheduledTask,
    core/models.py:34-40)."""

    id: str
    name: str
    cron: str = "* * * * *"
    enabled: bool = True
    steps: list[Step] = field(default_factory=list)
    connections: list[ConnectionConfig] = field(default_factory=list)

    def ordered_steps(self) -> list[Step]:
        return sorted(self.steps, key=lambda s: s.order)

    def connection(self, conn_id: str | None) -> ConnectionConfig | None:
        for c in self.connections:
            if c.id == conn_id:
                return c
        return None

    # ------------------------------------------------------------- JSON

    def to_json(self) -> str:
        d = asdict(self)
        for s in d["steps"]:
            s["step_type"] = s["step_type"].value if isinstance(s["step_type"], StepType) else s["step_type"]
        return json.dumps(d, indent=2)

    @classmethod
    def from_json(cls, text: str) -> PipelineSpec:
        d = json.loads(text)
        steps = [
            Step(
                id=s["id"],
                name=s["name"],
                step_type=StepType(s["step_type"]),
                order=s["order"],
                connection_id=s.get("connection_id"),
                config=s.get("config", {}),
            )
            for s in d.get("steps", [])
        ]
        conns = [ConnectionConfig(**c) for c in d.get("connections", [])]
        return cls(
            id=d["id"],
            name=d["name"],
            cron=d.get("cron", "* * * * *"),
            enabled=d.get("enabled", True),
            steps=steps,
            connections=conns,
        )

    def save(self, path: str | Path) -> None:
        Path(path).write_text(self.to_json())

    @classmethod
    def load(cls, path: str | Path) -> PipelineSpec:
        return cls.from_json(Path(path).read_text())
