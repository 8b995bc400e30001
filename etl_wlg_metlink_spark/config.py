"""S8 — typed config with defaults, the engine's equivalent of the
reference's TypeBox `Env` object (/root/reference/task.ts:30-51):
API key, three per-vehicle-type visibility toggles, debug flag.

Values resolve in order: explicit constructor args > environment
variables (`METLINK_API_KEY`, `SHOW_BUSES`, ...) > declared defaults —
mirroring `Type.Boolean({default: true})` semantics.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, fields


def _env_bool(name: str, default: bool) -> bool:
    raw = os.environ.get(name)
    if raw is None:
        return default
    return raw.strip().lower() in ("1", "true", "yes", "on")


@dataclass(frozen=True)
class MetlinkConfig:
    """Reference task.ts:30-51 `Env`, field for field."""

    metlink_api_key: str = ""
    show_buses: bool = True
    show_trains: bool = True
    show_ships: bool = True
    debug: bool = False

    @classmethod
    def from_env(cls, **overrides) -> "MetlinkConfig":
        base = {
            "metlink_api_key": os.environ.get("METLINK_API_KEY", ""),
            "show_buses": _env_bool("SHOW_BUSES", True),
            "show_trains": _env_bool("SHOW_TRAINS", True),
            "show_ships": _env_bool("SHOW_SHIPS", True),
            "debug": _env_bool("DEBUG", False),
        }
        base.update(overrides)
        return cls(**base)

    def enabled_types(self) -> list[str]:
        """P5 — the show/hide toggles as an isin() list
        (task.ts:245-249)."""
        out = []
        if self.show_buses:
            out.append("Bus")
        if self.show_trains:
            out.append("Train")
        if self.show_ships:
            out.append("Ship")
        return out

    @classmethod
    def from_file_env(cls, path: str) -> "MetlinkConfig":
        """Scheduled-job config resolution (the reference's deploy
        unit passes Env as the stored task config): a JSON file whose
        keys use the FORM-SCHEMA spellings (METLINK_API_KEY,
        Show_Buses, … — task.ts:30-51) overrides the environment,
        which overrides the declared defaults. Unknown keys are a
        LOUD error — a typo'd toggle in a deploy config must fail the
        invocation, not silently fall back to a default."""
        import json

        with open(path, encoding="utf-8") as f:
            data = json.load(f)
        if not isinstance(data, dict):
            raise ValueError(f"config file {path}: expected a JSON object")
        inv = {v: k for k, v in _ENV_FORM_NAMES.items()}
        unknown = sorted(set(data) - set(inv))
        if unknown:
            raise ValueError(
                f"config file {path}: unknown keys {unknown}; "
                f"expected a subset of {sorted(inv)}"
            )
        defaults = {f.name: f.default for f in fields(cls)}
        bad = sorted(
            k
            for k, v in data.items()
            if not (
                isinstance(v, bool)
                if isinstance(defaults[inv[k]], bool)
                else isinstance(v, str)
            )
        )
        if bad:
            raise ValueError(
                f"config file {path}: wrong value types for {bad}; "
                "toggle keys require JSON true/false and "
                "METLINK_API_KEY requires a string "
                '(e.g. {"Show_Buses": "false"} is a truthy STRING, '
                "not the false the author meant)"
            )
        return cls.from_env(**{inv[k]: v for k, v in data.items()})

    @classmethod
    def form_schema(cls) -> dict:
        """Render the config as the Input-flow FORM schema — the
        JSON-schema object the reference's `schema(SchemaType.Input)`
        returns so the UI can render Env as a form (task.ts:29-51,
        124-131): field names, types, descriptions, and defaults.
        Generated FROM the dataclass (names via _ENV_FORM_NAMES,
        types/defaults from the declared field defaults), so the form
        can never drift from what `from_env` actually resolves —
        pinned by test_input_flow_schema_round_trip."""
        props = {}
        for f in fields(cls):
            props[_ENV_FORM_NAMES[f.name]] = {
                "type": "boolean" if isinstance(f.default, bool) else "string",
                "description": _ENV_FORM_DESCRIPTIONS[f.name],
                "default": f.default,
            }
        return {"type": "object", "properties": props}


#: Form-schema field spellings, exactly the reference's Env keys
#: (task.ts:30-51) — mixed-case toggles, SCREAMING keys for the two
#: plain env vars.
_ENV_FORM_NAMES = {
    "metlink_api_key": "METLINK_API_KEY",
    "show_buses": "Show_Buses",
    "show_trains": "Show_Trains",
    "show_ships": "Show_Ships",
    "debug": "DEBUG",
}

#: Descriptions verbatim from the reference's Env (task.ts:30-51).
_ENV_FORM_DESCRIPTIONS = {
    "metlink_api_key": "API Key for Metlink OpenData API",
    "show_buses": "Show buses on the map",
    "show_trains": "Show trains on the map",
    "show_ships": "Show ships/ferries on the map",
    "debug": "Print API results in logs.",
}
