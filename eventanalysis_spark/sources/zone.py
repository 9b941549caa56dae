"""Data-zone + job/channel registry layer (zone/registry config fidelity).

Parity targets:
  - EventDataZone (/root/reference/Lcl.EventLog/Jobs/EventDataZone.cs:20-101):
    a zone bundles all event storage for one machine/tenant under
    `<base>/<ZONE>`; a `<zone>.zonecfg.json` tag file at the base records
    the zone identity, a name mismatch between the tag file and the
    requested zone is a fatal error, and a read-only zone neither creates
    folders nor writes the tag file;
  - JobRegistry (/root/reference/Lcl.EventLog/Jobs/JobRegistry.cs:52-68):
    job and channel names are each unique; re-registering the SAME
    (job, channel) pair replaces the entry, but a registration that would
    steal another job's channel or rename an existing job's channel is
    rejected;
  - skipRegistry: the zone can open with registry loading skipped so a
    corrupt job config never blocks zone-level maintenance.

Spark-first mapping: a zone root IS a warehouse root; jobs are sinks and
channels are the routing keys (event classes). The registry's
duplicate-channel rejection is load-bearing here — the router broadcast-
joins rules on event_class, so two rules claiming one class would silently
duplicate fact rows (see Pipeline.__init__'s validation)."""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass, field

from eventanalysis_spark.sources.catalog import Warehouse

# the reference's job-name grammar (EventJobConfig.cs:58) — also the sink
# name grammar of pipeline.validate_sink_name
NAME_RE = re.compile(r"^[a-z][a-z0-9]*([-_][a-z0-9]+)*$")


class ZoneConfigError(Exception):
    """Fatal zone configuration problem (tag-file mismatch / corruption)."""


class ReadOnlyZoneError(Exception):
    """A mutation was attempted through a read-only zone/warehouse."""


class RegistryError(Exception):
    """A job/channel registration conflicts with an existing one."""


@dataclass
class JobConfig:
    """One job ↔ channel registration (EventJobConfig analog): `name` is
    the sink/job name, `channel` the source routing key it consumes."""

    name: str
    channel: str
    admin: dict = field(default_factory=dict)

    def validate(self) -> None:
        if not isinstance(self.name, str) or not NAME_RE.match(self.name):
            raise RegistryError(
                f"invalid job name {self.name!r}: must match "
                "^[a-z][a-z0-9]*([-_][a-z0-9]+)*$ (EventJobConfig.cs:58)"
            )
        if not isinstance(self.channel, str) or not self.channel:
            raise RegistryError(f"invalid channel {self.channel!r}: must be non-empty")


class JobRegistry:
    """In-zone job/channel registry with the reference's rejection rules
    (JobRegistry.cs:52-68). Lookups are case-insensitive like the
    reference's InvariantCultureIgnoreCase dictionaries."""

    def __init__(self, zone: str):
        self.zone = zone
        self._by_job: dict[str, JobConfig] = {}
        self._by_channel: dict[str, JobConfig] = {}

    def register(self, cfg: JobConfig) -> None:
        cfg.validate()
        # comparisons are case-insensitive to match the registry's own
        # InvariantCultureIgnoreCase dictionaries: re-registering the same
        # job/channel pair with different case is an idempotent replace,
        # not a duplicate
        by_channel = self.find_by_channel(cfg.channel)
        if by_channel is not None and cfg.name.lower() != by_channel.name.lower():
            raise RegistryError(
                f"Duplicate channel name '{cfg.channel}' "
                f"(jobs '{cfg.name}' and '{by_channel.name}')"
            )
        by_job = self.find_by_job(cfg.name)
        if by_job is not None and cfg.channel.lower() != by_job.channel.lower():
            raise RegistryError(
                f"Duplicate job name '{cfg.name}' "
                f"(channels '{cfg.channel}' and '{by_job.channel}')"
            )
        self._by_channel[cfg.channel.lower()] = cfg
        self._by_job[cfg.name.lower()] = cfg

    @property
    def jobs(self) -> list[JobConfig]:
        return list(self._by_job.values())

    def find_by_job(self, name: str) -> JobConfig | None:
        return self._by_job.get((name or "").lower())

    def find_by_channel(self, channel: str) -> JobConfig | None:
        return self._by_channel.get((channel or "").lower())


class DataZone:
    """All event storage for one zone under `<base>/<ZONE>`.

    Mirrors EventDataZone.cs:20-101: the zone name uppercases like the
    reference's machine name; a writable zone ensures the root folder and
    tag file exist; a read-only zone touches nothing on disk and hands out
    read-only warehouses; `skip_registry` opens the zone without loading
    job configs (corrupt-config escape hatch)."""

    TAG_SUFFIX = ".zonecfg.json"
    REGISTRY_FILE = "_registry.json"

    def __init__(
        self,
        base: str,
        zone: str = "DEFAULT",
        read_only: bool = False,
        skip_registry: bool = False,
    ):
        self.zone = zone.upper()
        self.base = os.path.abspath(base)
        self.root = os.path.join(self.base, self.zone)
        self.read_only = read_only
        self.tag_file = os.path.join(self.base, f"{self.zone.lower()}{self.TAG_SUFFIX}")
        if os.path.exists(self.tag_file):
            try:
                with open(self.tag_file) as f:
                    cfg = json.load(f)
            except (json.JSONDecodeError, OSError) as e:
                raise ZoneConfigError(f"Fatal error in '{self.tag_file}'") from e
            if not isinstance(cfg, dict) or "zone" not in cfg:
                raise ZoneConfigError(f"Fatal error in '{self.tag_file}'")
            if cfg["zone"].upper() != self.zone:
                raise ZoneConfigError(
                    f"Invalid zone configuration. Zone name mismatch "
                    f"'{self.zone}' vs '{cfg['zone']}'"
                )
            self.config = cfg
        else:
            self.config = {"zone": self.zone}
        if not read_only:
            os.makedirs(self.root, exist_ok=True)
            if not os.path.exists(self.tag_file):
                tmp = self.tag_file + ".tmp"
                with open(tmp, "w") as f:
                    json.dump(self.config, f, indent=2)
                os.replace(tmp, self.tag_file)
        self.registry = JobRegistry(self.zone)
        if not skip_registry:
            self.reload_registry()

    @property
    def exists(self) -> bool:
        return os.path.isdir(self.root)

    def reload_registry(self) -> None:
        """Load persisted job configs; a conflicting pair in the file is a
        RegistryError here (reference: corrupt config surfaces on reload
        unless skipRegistry)."""
        self.registry = JobRegistry(self.zone)
        p = os.path.join(self.root, self.REGISTRY_FILE)
        if not os.path.exists(p):
            return
        try:
            with open(p) as f:
                entries = json.load(f)
        except (json.JSONDecodeError, OSError) as e:
            raise ZoneConfigError(f"Fatal error in '{p}'") from e
        for e in entries:
            self.registry.register(
                JobConfig(e["name"], e["channel"], e.get("admin", {}))
            )

    def register_job(self, name: str, channel: str, admin: dict | None = None) -> None:
        """Register (or idempotently replace) a job ↔ channel pair and
        persist the registry."""
        if self.read_only:
            raise ReadOnlyZoneError(f"zone '{self.zone}' is read-only")
        self.registry.register(JobConfig(name, channel, admin or {}))
        p = os.path.join(self.root, self.REGISTRY_FILE)
        tmp = p + ".tmp"
        with open(tmp, "w") as f:
            json.dump(
                [
                    {"name": c.name, "channel": c.channel, "admin": c.admin}
                    for c in self.registry.jobs
                ],
                f,
                indent=2,
            )
        os.replace(tmp, p)

    def warehouse(self) -> Warehouse:
        """The zone's warehouse; read-only zones hand out read-only
        warehouses (every mutation raises ReadOnlyZoneError)."""
        return Warehouse(self.root, read_only=self.read_only)
