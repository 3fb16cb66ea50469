"""C2 control plane over the Redis transport — the reference's own
command channel shapes (trend-o-meter:165-272), executable over RESP:

* commands arrive on ``SUBSCRIBE {prefix}c2:{device}|{app}``
  (trend-o-meter:167) as push frames;
* a JS-TRUTHY return value — and only that — is ``PUBLISH``-ed to the
  response channel AND ``HSET`` into the hash of the same name, field =
  the command's FIRST token (``msgComps[0]``), payload =
  ``JSON.stringify(retVal)`` — all three exactly the reference's
  ``if (retVal)`` gate at trend-o-meter:243-250 (the channel and the
  hash share a key, faithfully);
* every invocation — valid or not — is ``LPUSH``-ed to the append-only
  command log as the full ``{ts, valid, message, retVal, error}``
  envelope (trend-o-meter:253-262).

One deliberate divergence: our ``set`` executors RETURN the applied
value (so successful rebinds are visible on the wire), where the
reference's ``set`` returns undefined and therefore never publishes —
the publish GATE is faithful, the executor return values are richer.

The loop is bounded (message budget / deadline) and driver-side — the
same control-plane stance as SURVEY §3.3: C2 is an interactive
dispatcher, not a data-plane stream.  ``ControlPlane.execute`` stays
transport-agnostic; this bridge is pure wiring, so the parquet audit
table and the Redis cmdlog both receive every command.
"""

from __future__ import annotations

import json
import re
from contextlib import closing

from ..control.plane import _js_truthy
from .resp import RespConnection, Subscriber


def serve_c2(
    plane,
    host: str,
    port: int,
    *,
    device_id: str,
    app_id: str,
    prefix: str = "",
    max_commands: int = 100,
    timeout: float = 10.0,
) -> int:
    """Drain the C2 channel, execute each command on ``plane``, emit
    responses + audit entries over Redis.  Returns the number of
    commands processed."""
    chan = f"{prefix}c2:{device_id}|{app_id}"
    resp_key = f"{chan}:resp"
    log_key = f"{chan}:cmdlog"

    sub = Subscriber(host, port, chan, psubscribe=False, timeout=max(0.1, timeout))
    n = 0
    with closing(sub), RespConnection(host, port, timeout=max(0.1, timeout)) as pub:
        for _chan, raw in sub.drain(max_commands, timeout):
            message = raw.decode(errors="replace")
            result = plane.execute(message)
            n += 1
            if _js_truthy(result.ret_val):
                # field = msgComps[0] as typed; payload = the return
                # value alone (trend-o-meter:244-248)
                field = re.split(r"\s+", message.strip())[0]
                payload = json.dumps(result.ret_val, default=str)
                pub.command("HSET", resp_key, field, payload)
                pub.command("PUBLISH", resp_key, payload)
            pub.command("LPUSH", log_key, result.to_json())
    return n
