"""Golden corpus + deterministic tokenized-table generator.

The corpus replicates the reference's end-to-end test inputs
(/root/reference/tests/tests.rs and inline module tests — cited per entry in
FIXTURES.md §3).  The generator cycles the corpus into an arbitrarily large
``(doc_id, tokens, n_tok, source)`` table per BASELINE.json's input_hint:
``tokens`` is the UTF-8 byte sequence of the raw line, one int32 per byte —
a deterministic, invertible tokenization, so token-array equality against
the reference is byte equality of the raw line.

The ``source`` assignment is deliberately skewed (~60% nginx) to exercise
the routing stage's skew handling (the REBALANCE before the fan-out write).
"""

from __future__ import annotations

from typing import List, Tuple

# (fixture_id, raw_line) — raw lines from the reference test suite
# (tests/tests.rs / rfc3164.rs / timestamp.rs; see FIXTURES.md §3).
GOLDEN_CORPUS: List[Tuple[str, str]] = [
    ("nginx_3164",
     '<190>Dec 28 16:49:07 plertrood-thinkpad-x220 nginx: 127.0.0.1 - - '
     '[28/Dec/2019:16:49:07 +0000] "GET / HTTP/1.1" 304 0 "-" "Mozilla/5.0 '
     '(X11; Ubuntu; Linux x86_64; rv:71.0) Gecko/20100101 Firefox/71.0"'),
    ("rsyslog_sd",
     '<46>Jan  5 15:33:03 plertrood-ThinkPad-X220 rsyslogd:  [origin '
     'software="rsyslogd" swVersion="8.32.0" x-pid="20506" '
     'x-info="http://www.rsyslog.com"] start'),
    ("haproxy_no_host",
     "<133>Jan 13 16:33:35 haproxy[73411]: Proxy sticky-servers started."),
    ("rfc5424_plain",
     "<34>1 2003-10-11T22:14:15.003Z mymachine.example.com su - ID47 - "
     "BOM'su root' failed for lonvick on /dev/pts/8"),
    ("rfc5424_sd",
     '<165>1 2003-10-11T22:14:15.003Z mymachine.example.com evntslog - ID47 '
     '[exampleSDID@32473 iut="3" eventSource="Application" eventID="1011"] '
     'BOMAn application event log entry...'),
    ("rfc5424_sd_empty_value",
     '<165>1 2003-10-11T22:14:15.003Z mymachine.example.com evntslog - ID47 '
     '[exampleSDID@32473 iut="3" eventSource="" eventID="1011"] '
     'BOMAn application event log entry...'),
    ("rfc5424_multi_sd",
     '<165>1 2003-10-11T22:14:15.003Z mymachine.example.com evntslog - ID47 '
     '[exampleSDID@32473 iut="3" eventSource= "Application" eventID="1011"]'
     '[examplePriority@32473 class="high"] BOMAn application event log '
     'entry...'),
    ("sd_invalid_3164",
     '<46>Jan  5 15:33:03 plertrood-ThinkPad-X220 rsyslogd:  '
     '[software="rsyslogd" swVersion="8.32.0" x-pid="20506" '
     'x-info="http://www.rsyslog.com"] start'),
    ("no_tag_3164",
     '<46>Jan  5 15:33:03 plertrood-ThinkPad-X220  [software="rsyslogd" '
     'swVersion="8.32.0" x-pid="20506" x-info="http://www.rsyslog.com"] '
     'start'),
    ("utf8",
     "<46>Jan 5 10:01:00 Übergröße außerplanmäßig größenordnungsmäßig"),
    ("gobbledegook", "complete and utter gobbledegook"),
    ("syslog_ng_5424",
     '<13>1 2019-02-13T19:48:34+00:00 74794bfb6795 root 8449 - '
     '[meta sequenceId="1" sysUpTime="37" language="EN"]'
     '[origin ip="192.168.0.1" software="test"] i am foobar'),
    ("bad_sd_elem",
     '<13>1 2019-02-13T19:48:34+00:00 74794bfb6795 root 8449 - '
     '[incorrect x] qwerty'),
    ("bad_sd_elem_eq",
     '<13>1 2019-02-13T19:48:34+00:00 74794bfb6795 root 8449 - '
     '[incorrect x=] qwerty'),
    ("empty_sd_elem",
     '<13>1 2019-02-13T19:48:34+00:00 74794bfb6795 root 8449 - '
     '[empty] qwerty'),
    ("empty_sd_then_full",
     '<13>1 2019-02-13T19:48:34+00:00 74794bfb6795 root 8449 - '
     '[empty][meta sequenceId="1"] qwerty'),
    ("full_sd_then_empty",
     '<13>1 2019-02-13T19:48:34+00:00 74794bfb6795 root 8449 - '
     '[meta sequenceId="1"][empty] qwerty'),
    ("weird_ws",
     '\n       <13>1 2019-02-13T19:48:34+00:00 74794bfb6795 root 8449 - '
     '[meta sequenceId="1"] i am foobar    \n'),
    ("syslog_ng_3164",
     "<13>Feb 13 20:07:26 74794bfb6795 root[8539]: i am foobar"),
    ("rsyslog_omfwd",
     '<190>Feb 13 21:31:56 74794bfb6795 liblogging-stdlog:  [origin '
     'software="rsyslogd" swVersion="8.24.0" x-pid="9043" '
     'x-info="http://www.rsyslog.com"] start'),
    ("omfwd_3339",
     '<190>2019-02-13T21:53:30.605850+00:00 74794bfb6795 liblogging-stdlog:  '
     '[origin software="rsyslogd" swVersion="8.24.0" x-pid="9043" '
     'x-info="http://www.rsyslog.com"] start'),
    ("juniper",
     "<28>1 2020-05-22T14:59:09.250-03:00 OX-XXX-MX204 OX-XXX-CONTEUDO:rpd "
     "6589 - - bgp_listen_accept: %DAEMON-4: Connection attempt from "
     "unconfigured neighbor: 2001:XXX::219:166+57284"),
    ("missing_pri_3164",
     'Dec 28 16:49:07 plertrood-thinkpad-x220 nginx: 127.0.0.1 - - '
     '[28/Dec/2019:16:49:07 +0000] "GET / HTTP/1.1" 304 0 "-" "Mozilla/5.0 '
     '(X11; Ubuntu; Linux x86_64; rv:71.0) Gecko/20100101 Firefox/71.0"'),
    ("missing_pri_5424",
     "1 2020-05-22T14:59:09.250-03:00 OX-XXX-MX204 OX-XXX-CONTEUDO:rpd "
     "6589 - - bgp_listen_accept: %DAEMON-4: Connection attempt from "
     "unconfigured neighbor: 2001:XXX::219:166+57284"),
    ("exact_err", "I am an invalid syslog message, but I do like cheese"),
    ("feb29",
     "<134> Feb 29 14:07:19 myhostname sshd - - - this is my message"),
    ("no_space_colon",
     "<13>Feb 13 20:07:26 74794bfb6795 root[8539]:syslog message"),
    ("ipv4_host",
     "<34>1 2003-10-11T22:14:15.003Z 42.52.1.1 su - ID47 - bananas and peas"),
    ("ipv6_host",
     "<34>1 2003-10-11T22:14:15.003Z ::FFFF:129.144.52.38 su - ID47 - "
     "bananas and peas"),
    ("ubnt_iptables",
     "<4>Jan 26 05:59:54 ubnt kernel: [WAN_LOCAL-default-D]IN=eth0 OUT= "
     "MAC=b4:fb:xx:xx:xx:xx:xx:xx:xx:xx:xx:xx:08:00 SRC=135.148.25.121 "
     "DST=xxx.xxx.xxx.xxx LEN=60 TOS=0x00 PREC=0x00 TTL=46 ID=59401 DF "
     "PROTO=TCP SPT=46146 DPT=4433 WINDOW=5840 RES=0x00 SYN URGP=0"),
    ("f5",
     '<131>1 2025-05-09T09:56:18.906539+02:00 Host-Name.network.example '
     'appname 1234 01230456:1: [F5@1234 hostname="Host-Name.network.example" '
     'errdefs_msgno="01230456:1:"] RST sent from 192.0.2.1:443 to '
     '192.0.2.2:1176, [0xdeadbef:1010] RST from BIG-IP internal Linux host'),
    ("null_ts_5424",
     "<14>1 - 10.0.4.87 Serial-Debugger - - - Serializer started!"),
    ("host_space_3164", "<54> 1970-01-01T00:01:31+00:00 host :"),
    ("bare_header", "<34>Oct 11 22:14:15 : a message"),
    ("upper_month", "<34>OCT 11 22:14:15 : a message"),
    ("apache_brackets",
     "<131>Jun 8 11:54:08 master apache_error [Tue Jun 08 11:54:08.929301 "
     "2021] [php7:emerg] [pid 1374899] [client 95.223.77.60:41888] rest of "
     "message"),
    ("year_in_ts",
     "<34>Dec 28 2008 16:49:07 mymachine app[323]: a message"),
    ("sd_escapes",
     '<165>1 2003-10-11T22:14:15.003Z mymachine.example.com evntslog - ID47 '
     '[id aa="hullo \\"there\\"" bb="let\'s \\\\\\\\do this\\\\\\\\" '
     'cc="hello [bye\\]" dd="hello\\nbye" ee="not \\esc\\aped"] qwerty'),
    ("host_dash_tag_3164",
     "<34>Oct 11 22:14:15 myhost -: a message"),
    ("tag_no_host_json",
     '<134>Oct 30 16:05:54 opsaudit  {"username": "admin", "mfa": 0}'),
    # non-ASCII decimal digits are NOT digits to the reference's nom digit1
    # (ASCII-only) — these must become fallback rows, not mis-parsed ones
    ("unicode_pri_digit", "<٣>Oct 11 22:14:15 host app[1]: msg"),
    ("unicode_day_digit", "<34>Oct ١١ 22:14:15 host app: msg"),
    # hostname token '-:' — the trailing ':' splits back BEFORE the NILVALUE
    # check, so the literal hostname is '-' (parsers.rs:46-54)
    ("host_dash_colon_3164", "<34>Oct 11 22:14:15 -: a message"),
    # leap second: chrono parse_from_rfc3339 (timestamp.rs:14-22) accepts
    # ':60' as second 59 + (1+frac) s; engine AND oracle apply the same
    # fold, so these PARSE with epoch micros equal to the next minute's
    # start + fraction (chrono timestamp_micros parity; COVERAGE.md)
    ("leap_second_5424",
     "<34>1 2016-12-31T23:59:60Z host app - - - leap second msg"),
    ("leap_second_3164_3339ts",
     "<34>2016-12-31T23:59:60.5Z host app: leap in 3164 envelope"),
    # round-3 verbatim-parity sweep: reference-suite inputs that had only
    # shortened/analogous counterparts here before (exact strings now)
    ("tag_with_pid_3164",                        # rfc3164.rs parse_tag_with_pid
     "<34>Oct 11 22:14:15 mymachine app[323]: a message"),
    ("tag_without_pid_3164",                     # rfc3164.rs parse_tag_without_pid
     "<34>Oct 11 22:14:15 mymachine: a message"),
    ("rsyslog_plain_start",                      # tests.rs parse_rsyslog
     "<46>Jan  5 15:33:03 plertrood-ThinkPad-X220 rsyslogd: start"),
    # timestamp.rs unit fragments wrapped in a minimal 3164 envelope:
    # single-space single-digit day, with-year variant, bare trailing colon
    ("ts_single_digit_day",                      # timestamp.rs "Aug 4 16:49:07 "
     "<34>Aug 4 16:49:07 host app: m"),
    ("ts_with_year_single_digit_day",            # timestamp.rs "Aug 4 2020 16:49:07 "
     "<34>Aug 4 2020 16:49:07 host app: m"),
    ("ts_trailing_colon_no_fields",              # timestamp.rs "Dec 28 16:49:07:"
     "<34>Dec 28 16:49:07: m"),
    # rfc3164.rs parse_3164_no_tag_json_msg FULL input (r# raw string: the
    # backslashes before the quotes are literal input bytes)
    ("opsaudit_json_full",
     '<134>Oct 30 16:05:54 opsaudit  {\\"username\\": \\"admin\\", '
     '\\"ip\\": \\"7.7.7.7\\", \\"type\\": \\"\\", \\"user_agent\\": '
     '\\"Go-http-client/1.1\\", \\"datetime\\": \\"2020-10-30 16:05:45\\", '
     '\\"mfa\\": 0, \\"status\\": true, \\"city\\": \\"局域网\\", '
     '\\"optype\\": \\"user-login\\"}'),
]

# Deterministic skewed source assignment: ~60% nginx plus a long tail.
SOURCES = ("nginx", "rsyslog", "haproxy", "syslog-ng", "juniper", "ubnt",
           "f5", "app0", "app1", "app2", "app3", "app4", "app5", "app6",
           "app7", "app8", "app9")

# Knuth multiplicative hash keeps the assignment arithmetic (expressible in
# both Spark and ANSI SQL for oracle checks), deterministic and well mixed.
_MIX = 2654435761


def source_for(i: int) -> str:
    h = (i * _MIX) % 100
    if h < 60:
        return SOURCES[0]
    return SOURCES[1 + (h % (len(SOURCES) - 1))]


def tokenize(line: str) -> List[int]:
    """UTF-8 bytes, one int per byte (invertible; see module docstring)."""
    return list(line.encode("utf-8"))


def corpus_line(i: int) -> str:
    return GOLDEN_CORPUS[i % len(GOLDEN_CORPUS)][1]
