"""PolicyStore: `blockchain get` + `bring` over JSON policy documents.

Reference semantics:
- a policy is ``{"<type>": {attrs...}}`` (one top-level key = its type)
- ``blockchain get <type> where k = v and k2 = v2`` filters by type and
  attribute equality; a value ending in ``*`` is a prefix match
  (edge_lake/generic/utils_sql.py:2442 is_prefix_search)
- ``bring[.variant]* [path][path2] "literal" ...`` projects attribute
  paths out of the matching policies; variants combine results
  (bit-flag table edge_lake/generic/utils_json.py:41-57; execution
  :533-720): unique, first, recent/last, count, min, max, sort, json,
  list, table; ``separator = <s>`` joins multi-policy output.
"""

from __future__ import annotations

import json
import re


def stamp_policy(policy: dict) -> dict:
    """Add ``id`` (md5 of the single-key body, excluding date/ledger)
    and ``date`` (UTC now) if absent — reference
    edge_lake/members/policies.py:786-860 add_json_id_date."""
    import hashlib
    from datetime import datetime, timezone

    if not isinstance(policy, dict) or len(policy) != 1:
        return policy
    key = next(iter(policy))
    body = policy[key]
    if not isinstance(body, dict):
        return policy
    if "id" in body and "date" in body:
        return policy
    hashable = {k: v for k, v in body.items() if k not in ("date", "ledger")}
    if "id" not in body:
        digest = hashlib.md5(
            (key + ":" + json.dumps(hashable, sort_keys=True, separators=(",", ":"))).encode()
        ).hexdigest()
        body["id"] = digest
    if "date" not in body:
        body["date"] = datetime.now(timezone.utc).strftime("%Y-%m-%dT%H:%M:%S.%fZ")
    return policy


def policy_id(policy) -> str | None:
    """The ``id`` stamped on a policy body ({type: {..., id: X}}), or
    None for anything malformed — the shared extractor for the
    drop/replace-by-id commands."""
    body = next(iter(policy.values()), None) if isinstance(policy, dict) and policy else None
    return body.get("id") if isinstance(body, dict) else None


class PolicyStore:
    def __init__(self, policies: list[dict] | None = None):
        self.policies: list[dict] = list(policies or [])

    # ------------------------------------------------------------ admin

    def add(self, policy: dict) -> None:
        """Insert a policy, stamping ``id``/``date`` like the
        reference's ledger insert (edge_lake/members/policies.py:786
        add_json_id_date: id = md5 of the content minus date/ledger,
        date = current UTC)."""
        self.policies.append(stamp_policy(policy))

    def remove_by_id(self, pid: str) -> int:
        """Drop every policy whose body id matches; returns how many
        were removed (reference blockchain drop policy by id)."""
        before = len(self.policies)
        self.policies = [p for p in self.policies if policy_id(p) != pid]
        return before - len(self.policies)

    @classmethod
    def from_json_lines(cls, text: str) -> "PolicyStore":
        return cls([json.loads(line) for line in text.splitlines() if line.strip()])

    # ------------------------------------------------------ persistence

    def save(self, path: str) -> int:
        """Persist the ledger as JSON-lines — the reference's durable
        blockchain file (member_cmd.py:1614 blockchain_get reads a
        file/master ledger). Returns the policy count."""
        with open(path, "w") as fh:
            for p in self.policies:
                fh.write(json.dumps(p, separators=(",", ":")) + "\n")
        return len(self.policies)

    @classmethod
    def load(cls, path: str) -> "PolicyStore":
        with open(path) as fh:
            return cls.from_json_lines(fh.read())

    # ------------------------------------------------------------ query

    def blockchain_get(
        self, policy_type: str = "*", where: dict | None = None, bring: str | None = None
    ):
        """Filter policies by type + attribute conditions, optionally
        applying a bring projection. Returns list[dict] without bring,
        else the bring result (string / list / int)."""
        matches = []
        for p in self.policies:
            if policy_type != "*":
                if policy_type not in p:
                    continue
                body = p[policy_type]
            else:
                body = p[next(iter(p))] if len(p) == 1 else p
            if where and not self._match(body, where):
                continue
            matches.append(p)
        if bring is None:
            return matches
        return self.run_bring(matches, bring, policy_type)

    @staticmethod
    def _match(body: dict, where: dict) -> bool:
        for k, v in where.items():
            actual = body.get(k)
            if isinstance(v, str) and v.endswith("*"):
                if not (isinstance(actual, str) and actual.startswith(v[:-1])):
                    return False
            elif actual != v:
                return False
        return True

    # ------------------------------------------------------------ bring

    def run_bring(self, policies: list[dict], instruction: str, policy_type: str = "*"):
        """Evaluate a bring instruction against matching policies."""
        instruction = instruction.strip()
        m = re.match(r"bring((?:\.\w+)*)\s*(.*)", instruction, re.DOTALL)
        if not m:
            raise ValueError(f"not a bring instruction: {instruction}")
        variants = {v for v in m.group(1).lower().split(".") if v}
        spec = m.group(2).strip()

        if "children" in variants:
            # replace matched policies with their children: policies
            # whose body's `parent` equals a matched policy's id
            # (reference member_cmd.py:1711, blockchain
            # get_root_or_children)
            parent_ids = set()
            for p in policies:
                ptype = next(iter(p)) if len(p) == 1 else None
                body = p.get(ptype, {}) if ptype else {}
                if isinstance(body, dict) and "id" in body:
                    parent_ids.add(body["id"])
            children = []
            for p in self.policies:
                ptype = next(iter(p)) if len(p) == 1 else None
                body = p.get(ptype, {}) if ptype else {}
                if isinstance(body, dict) and body.get("parent") in parent_ids:
                    children.append(p)
            policies = children

        # separator condition at the tail: `separator = \n` style
        separator = ""
        sep_m = re.search(r"separator\s*=\s*(\S+)\s*$", spec)
        if sep_m:
            separator = {"\\n": "\n", "\\t": "\t"}.get(sep_m.group(1), sep_m.group(1).strip('"'))
            spec = spec[: sep_m.start()].strip()

        # bring paths address the FULL policy including its type key
        # (reference: json_data entries are whole policies, e.g.
        # `bring [table][name]` — utils_json.py:533 pull_info)
        if "ip_port" in variants:
            # reference utils_json.py:41-57 BRING_IP_PORT: for each
            # matched policy emit "<ip>:<port>" from the body's
            # connection fields (operator/query nodes publish ip+port)
            out = []
            for p in policies:
                ptype = next(iter(p)) if len(p) == 1 else None
                body = p.get(ptype, {}) if ptype else p
                ip = body.get("ip") or body.get("external_ip") or ""
                port = body.get("port") or body.get("rest_port") or ""
                if ip and port:
                    out.append(f"{ip}:{port}")
            return separator.join(out) if separator else out
        if "count" in variants and not spec:
            return len(policies)
        if "json" in variants and not spec:
            return list(policies)
        if ("first" in variants or "recent" in variants or "last" in variants) and not spec:
            if not policies:
                return []
            return [policies[0]] if ("first" in variants or "recent" in variants) else [policies[-1]]

        # project each policy through the pull spec (paths + literals).
        # bring.null keeps policies whose paths are missing, rendering
        # them as "null" (reference utils_json.py:748,1439)
        projected: list[str] = []
        for policy in policies:
            value_str, ok = self._project(policy, spec)
            if ok:
                projected.append(value_str)
            elif "null" in variants:
                projected.append("null")

        if "unique" in variants:
            seen, uniq = set(), []
            for v in projected:
                if v not in seen:
                    seen.add(v)
                    uniq.append(v)
            projected = uniq
        if "sort" in variants:
            projected = sorted(projected)
        if "count" in variants:
            return len(projected)
        if "min" in variants:
            return min(projected, key=_numkey) if projected else None
        if "max" in variants:
            return max(projected, key=_numkey) if projected else None
        if "first" in variants:
            return projected[0] if projected else None
        if "recent" in variants or "last" in variants:
            return projected[-1] if projected else None
        if "list" in variants:
            return projected
        if "table" in variants:
            return [v.split("\t") for v in projected]
        return separator.join(projected) if separator else "".join(projected)

    @staticmethod
    def _project(body: dict, spec: str) -> tuple[str, bool]:
        """One policy body through the pull spec: bracket-path runs pull
        values, quoted strings are literals. '[a][b]' drills nested
        dicts; a '[]' segment iterates a list (values joined)."""
        out: list[str] = []
        found_any = False
        i = 0
        while i < len(spec):
            ch = spec[i]
            if ch == "[":
                # consume a full bracket run [a][b][]...
                run = []
                while i < len(spec) and spec[i] == "[":
                    j = spec.index("]", i)
                    run.append(spec[i + 1 : j])
                    i = j + 1
                val = _pull(body, run)
                if val is not None:
                    found_any = True
                    out.append(val)
            elif ch in "\"'":
                j = spec.index(ch, i + 1)
                out.append(spec[i + 1 : j])
                i = j + 1
            else:
                i += 1
        return "".join(out), found_any


def _pull(obj, path: list[str]) -> str | None:
    cur = obj
    # path segments may be quoted (`['operator']['ip']` — the `from`
    # command's idiom) or bare (`[operator][ip]`); both reference forms
    # address the same attribute (utils_json.py pull accepts either)
    path = [
        s[1:-1] if len(s) >= 2 and s[0] == s[-1] and s[0] in "\"'" else s
        for s in path
    ]
    for idx, seg in enumerate(path):
        if seg == "":
            if not isinstance(cur, list):
                return None
            rest = path[idx + 1 :]
            vals = [_pull(item, rest) if rest else _to_str(item) for item in cur]
            vals = [v for v in vals if v is not None]
            return " ".join(vals) if vals else None
        if isinstance(cur, dict) and seg in cur:
            cur = cur[seg]
        else:
            return None
    return _to_str(cur)


def _to_str(v) -> str:
    if isinstance(v, (dict, list)):
        return json.dumps(v, separators=(",", ":"))
    return str(v)


def _numkey(s: str):
    try:
        return (0, float(s))
    except ValueError:
        return (1, s)
