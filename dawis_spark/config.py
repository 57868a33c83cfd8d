"""YAML configuration surface — compatible in spirit with the reference's.

Reference (utilities/configuration.py:186-202, configuration_loader.py:
48-108, configuration_validator.py): a YAML tree of urlsets / aggregations
/ operations with cron schedules and per-module settings, sha256-hashed for
versioning, validated by a CLI.

Here the YAML shape survives; Celery/Redis/pickle do not (SURVEY §3.1's
Spark shape): the scheduler is external cron / Airflow calling
``run_module``; the config hash still identifies a config version for
staging keys.

Example:
    urlsets:
      owndomains:
        urls: ["https://www.example.de/"]
        render: false
    operations:
      metatags:
        schedule: "0 4 * * *"
        runtime_limit: 600
        settings:
          owndomains: {title: {has_title: true}}
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import dataclass, field

import yaml

DEFAULT_MODULE_RUNTIME_LIMIT = 600  # utilities/configuration.py:6


@dataclass
class ModuleConfig:
    name: str
    schedule: str | None = None
    runtime_limit: int = DEFAULT_MODULE_RUNTIME_LIMIT
    settings: dict = field(default_factory=dict)


@dataclass
class Configuration:
    urlsets: dict[str, dict]
    aggregations: dict[str, ModuleConfig]
    operations: dict[str, ModuleConfig]
    hash: str

    def module(self, kind: str, name: str) -> ModuleConfig:
        return (self.aggregations if kind == "aggregation" else self.operations)[name]


def _modules(section: dict) -> dict[str, ModuleConfig]:
    out = {}
    for name, cfg in (section or {}).items():
        cfg = cfg or {}
        out[name] = ModuleConfig(
            name=name,
            schedule=cfg.get("schedule"),
            runtime_limit=int(cfg.get("runtime_limit", DEFAULT_MODULE_RUNTIME_LIMIT)),
            settings=cfg.get("settings", {}),
        )
    return out


def load_configuration(text: str) -> Configuration:
    """Parse + validate a YAML config string (file contents)."""
    raw = yaml.safe_load(text) or {}
    errors = validate(raw)
    if errors:
        raise ValueError("invalid configuration: " + "; ".join(errors))
    digest = hashlib.sha256(
        json.dumps(raw, sort_keys=True, default=str).encode()
    ).hexdigest()
    return Configuration(
        urlsets=raw.get("urlsets", {}),
        aggregations=_modules(raw.get("aggregations", {})),
        operations=_modules(raw.get("operations", {})),
        hash=digest,
    )


def validate(raw: dict) -> list[str]:
    """Config-shape validation (configuration_validator.py analog):
    returns human-readable problems, empty when valid."""
    errors: list[str] = []
    if not isinstance(raw, dict):
        return ["configuration root must be a mapping"]
    for name, urlset in (raw.get("urlsets") or {}).items():
        if not isinstance(urlset, dict) or "urls" not in urlset:
            errors.append(f"urlset {name!r}: missing 'urls'")
        elif not isinstance(urlset["urls"], list) or not urlset["urls"]:
            errors.append(f"urlset {name!r}: 'urls' must be a non-empty list")
    for section in ("aggregations", "operations"):
        for name, cfg in (raw.get(section) or {}).items():
            if cfg is None:
                continue
            if not isinstance(cfg, dict):
                errors.append(f"{section}.{name}: must be a mapping")
                continue
            if "runtime_limit" in cfg:
                try:
                    int(cfg["runtime_limit"])
                except (TypeError, ValueError):
                    errors.append(f"{section}.{name}: runtime_limit must be int")
    return errors
