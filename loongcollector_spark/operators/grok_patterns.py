"""Builtin grok pattern library — fresh-bodied definitions of the public
pattern NAMES the reference bundles under
``example_config/processor_grok_patterns/{grok-patterns,httpd,java,
linux-syslog,haproxy}`` (the well-known Logstash pattern vocabulary).

The *names and capture aliases* are the public contract (a user's grok
config references ``%{COMBINEDAPACHELOG}`` and expects fields named
``clientip``/``verb``/``response``); the regex *bodies* here are written
from scratch against that contract, constrained to the syntax subset that
compiles identically under both Java (Spark's regex expressions)
and Python ``re`` (plan-time validation and property tests):
no possessive quantifiers, no atomic groups, no duplicate group names.

Documented divergences from the reference bundle:
- ``HTTPD_ERRORLOG`` is the 2.4 form only: the bundled file alternates the
  2.0 and 2.4 layouts, which requires duplicate capture names across
  branches — illegal in both Java and Python regex. Use
  ``HTTPD20_ERRORLOG`` explicitly for the old layout.
- ``TIME`` drops the bundled file's lookbehind guard (Onigmo-only syntax).
"""

from __future__ import annotations

GROK_LIBRARY: dict[str, str] = {
    # ---- core primitives -------------------------------------------------
    "USERNAME": r"[A-Za-z0-9._-]+",
    "USER": r"%{USERNAME}",
    "EMAILLOCALPART": r"[A-Za-z0-9!#$%&'*+=?^_`{|}~-]+(?:\.[A-Za-z0-9!#$%&'*+=?^_`{|}~-]+)*",
    "EMAILADDRESS": r"%{EMAILLOCALPART}@%{HOSTNAME}",
    "HTTPDUSER": r"(?:%{EMAILADDRESS}|%{USER})",
    "INT": r"[+-]?\d+",
    "BASE10NUM": r"[+-]?(?:\d+(?:\.\d+)?|\.\d+)",
    "NUMBER": r"%{BASE10NUM}",
    "BASE16NUM": r"[+-]?(?:0[xX])?[0-9A-Fa-f]+",
    "BASE16FLOAT": r"[+-]?(?:0[xX])?(?:[0-9A-Fa-f]+(?:\.[0-9A-Fa-f]*)?|\.[0-9A-Fa-f]+)",
    "POSINT": r"[1-9]\d*",
    "NONNEGINT": r"\d+",
    "WORD": r"\b\w+\b",
    "NOTSPACE": r"\S+",
    "SPACE": r"\s*",
    "DATA": r".*?",
    "GREEDYDATA": r".*",
    "QUOTEDSTRING": r"(?:\"(?:\\.|[^\\\"])*\"|'(?:\\.|[^\\'])*'|`(?:\\.|[^\\`])*`)",
    "QS": r"%{QUOTEDSTRING}",
    "UUID": r"[0-9A-Fa-f]{8}(?:-[0-9A-Fa-f]{4}){3}-[0-9A-Fa-f]{12}",
    "URN": r"urn:[0-9A-Za-z][0-9A-Za-z-]{0,31}:[-A-Za-z0-9\\.!~*'()%/?#:;=@,$_+&]+",
    # ---- network ---------------------------------------------------------
    "COMMONMAC": r"(?:[0-9A-Fa-f]{2}:){5}[0-9A-Fa-f]{2}",
    "CISCOMAC": r"(?:[0-9A-Fa-f]{4}\.){2}[0-9A-Fa-f]{4}",
    "WINDOWSMAC": r"(?:[0-9A-Fa-f]{2}-){5}[0-9A-Fa-f]{2}",
    "MAC": r"(?:%{CISCOMAC}|%{WINDOWSMAC}|%{COMMONMAC})",
    "IPV4": r"(?:25[0-5]|2[0-4]\d|[01]?\d{1,2})(?:\.(?:25[0-5]|2[0-4]\d|[01]?\d{1,2})){3}",
    "IPV6": (
        r"(?:(?:[0-9A-Fa-f]{1,4}:){7}[0-9A-Fa-f]{1,4}"
        r"|(?:[0-9A-Fa-f]{1,4}:)+:(?:[0-9A-Fa-f]{1,4}(?::[0-9A-Fa-f]{1,4})*)?"
        r"|::(?:[0-9A-Fa-f]{1,4}(?::[0-9A-Fa-f]{1,4})*)?"
        r")(?:%\w+)?"
    ),
    "IP": r"(?:%{IPV6}|%{IPV4})",
    "HOSTNAME": r"\b[0-9A-Za-z](?:[0-9A-Za-z-]{0,62})?(?:\.[0-9A-Za-z](?:[0-9A-Za-z-]{0,62})?)*\.?\b",
    "HOST": r"%{HOSTNAME}",
    "IPORHOST": r"(?:%{IP}|%{HOSTNAME})",
    "HOSTPORT": r"%{IPORHOST}:%{POSINT}",
    # ---- paths / uri -----------------------------------------------------
    "UNIXPATH": r"(?:/[\w.%!$@:,~+-]*)+",
    "TTY": r"/dev/(?:pts|tty[pq]?)(?:\w+)?/?(?:\d+)",
    "WINPATH": r"(?:[A-Za-z]:|\\)(?:\\[^\\?*]*)+",
    "PATH": r"(?:%{UNIXPATH}|%{WINPATH})",
    "URIPROTO": r"[A-Za-z][A-Za-z0-9+.-]*",
    "URIHOST": r"%{IPORHOST}(?::%{POSINT:port})?",
    "URIPATH": r"(?:/[A-Za-z0-9$.+!*'(){},~:;=@#%&_-]*)+",
    "URIPARAM": r"\?[A-Za-z0-9$.+!*'|(){},~@#%&/=:;_?\[\]<>-]*",
    "URIPATHPARAM": r"%{URIPATH}(?:%{URIPARAM})?",
    "URI": r"%{URIPROTO}://(?:%{USER}(?::[^@]*)?@)?(?:%{URIHOST})?(?:%{URIPATHPARAM})?",
    # ---- date / time -----------------------------------------------------
    "MONTH": (
        r"\b(?:Jan(?:uary)?|Feb(?:ruary)?|Mar(?:ch)?|Apr(?:il)?|May|Jun(?:e)?"
        r"|Jul(?:y)?|Aug(?:ust)?|Sep(?:tember)?|Oct(?:ober)?|Nov(?:ember)?"
        r"|Dec(?:ember)?)\b"
    ),
    "MONTHNUM": r"(?:0?[1-9]|1[0-2])",
    "MONTHNUM2": r"(?:0[1-9]|1[0-2])",
    "MONTHDAY": r"(?:(?:0[1-9])|(?:[12]\d)|(?:3[01])|[1-9])",
    "DAY": r"(?:Mon(?:day)?|Tue(?:sday)?|Wed(?:nesday)?|Thu(?:rsday)?|Fri(?:day)?|Sat(?:urday)?|Sun(?:day)?)",
    "YEAR": r"(?:\d\d){1,2}",
    "HOUR": r"(?:2[0123]|[01]?\d)",
    "MINUTE": r"[0-5]\d",
    "SECOND": r"(?:[0-5]?\d|60)(?:[:.,]\d+)?",
    "TIME": r"%{HOUR}:%{MINUTE}(?::%{SECOND})?",
    "DATE_US": r"%{MONTHNUM}[/-]%{MONTHDAY}[/-]%{YEAR}",
    "DATE_EU": r"%{MONTHDAY}[./-]%{MONTHNUM}[./-]%{YEAR}",
    "ISO8601_TIMEZONE": r"(?:Z|[+-]%{HOUR}(?::?%{MINUTE}))",
    "ISO8601_SECOND": r"%{SECOND}",
    "TIMESTAMP_ISO8601": r"%{YEAR}-%{MONTHNUM2}-%{MONTHDAY}[T ]%{HOUR}:?%{MINUTE}(?::?%{SECOND})?%{ISO8601_TIMEZONE}?",
    "DATE": r"(?:%{DATE_US}|%{DATE_EU})",
    "DATESTAMP": r"%{DATE}[- ]%{TIME}",
    "TZ": r"(?:[A-Z]{3,4}|GMT[+-]\d{1,2})",
    "DATESTAMP_RFC822": r"%{DAY} %{MONTH} %{MONTHDAY} %{YEAR} %{TIME} %{TZ}",
    "DATESTAMP_RFC2822": r"%{DAY}, %{MONTHDAY} %{MONTH} %{YEAR} %{TIME} %{ISO8601_TIMEZONE}",
    "DATESTAMP_OTHER": r"%{DAY} %{MONTH} %{MONTHDAY} %{TIME} %{TZ} %{YEAR}",
    "DATESTAMP_EVENTLOG": r"%{YEAR}%{MONTHNUM2}%{MONTHDAY}%{HOUR}%{MINUTE}%{SECOND}",
    "HTTPDERROR_DATE": r"%{DAY} %{MONTH} %{MONTHDAY} %{TIME} %{YEAR}",
    "HTTPDATE": r"%{MONTHDAY}/%{MONTH}/%{YEAR}:%{TIME} %{INT}",
    # ---- syslog ----------------------------------------------------------
    "SYSLOGTIMESTAMP": r"%{MONTH} +%{MONTHDAY} %{TIME}",
    "PROG": r"[\w._/%-]+",
    "SYSLOGPROG": r"%{PROG:program}(?:\[%{POSINT:pid}\])?",
    "SYSLOGHOST": r"%{IPORHOST}",
    "SYSLOGFACILITY": r"<%{NONNEGINT:facility}.%{NONNEGINT:priority}>",
    "SYSLOGBASE": r"%{SYSLOGTIMESTAMP:timestamp} (?:%{SYSLOGFACILITY} )?%{SYSLOGHOST:logsource} %{SYSLOGPROG}:",
    "SYSLOGBASE2": r"(?:%{SYSLOGTIMESTAMP:timestamp}|%{TIMESTAMP_ISO8601:timestamp8601}) (?:%{SYSLOGFACILITY} )?%{SYSLOGHOST:logsource}(?: %{SYSLOGPROG}:|)",
    "SYSLOGLINE": r"%{SYSLOGBASE2} %{GREEDYDATA:message}",
    "SYSLOGPAMSESSION": r"%{SYSLOGBASE} %{WORD:pammodule}\(%{DATA:pamcaller}\): session %{WORD:pamsessionstate} for user %{USERNAME:username}(?: by %{GREEDYDATA:pamby})?",
    "CRON_ACTION": r"[A-Z ]+",
    "CRONLOG": r"%{SYSLOGBASE} \(%{USER:user}\) %{CRON_ACTION:action} \(%{DATA:message}\)",
    "SYSLOG5424PRINTASCII": r"[!-~]+",
    "SYSLOG5424PRI": r"<%{NONNEGINT:syslog5424pri}>",
    "SYSLOG5424SD": r"\[%{DATA}\]+",
    "SYSLOG5424BASE": (
        r"%{SYSLOG5424PRI}%{NONNEGINT:syslog5424ver} +"
        r"(?:-|%{TIMESTAMP_ISO8601:syslog5424ts}) +(?:-|%{IPORHOST:syslog5424host}) +"
        r"(?:-|%{SYSLOG5424PRINTASCII:syslog5424app}) +(?:-|%{SYSLOG5424PRINTASCII:syslog5424proc}) +"
        r"(?:-|%{SYSLOG5424PRINTASCII:syslog5424msgid}) +(?:-|%{SYSLOG5424SD:syslog5424sd})"
    ),
    "SYSLOG5424LINE": r"%{SYSLOG5424BASE} +%{GREEDYDATA:syslog5424msg}",
    # ---- httpd / apache --------------------------------------------------
    "LOGLEVEL": (
        r"(?:[Aa]lert|ALERT|[Tt]race|TRACE|[Dd]ebug|DEBUG|[Nn]otice|NOTICE"
        r"|[Ii]nfo(?:rmation)?|INFO|[Ww]arn(?:ing)?|WARN(?:ING)?"
        r"|[Ee]rr(?:or)?|ERR(?:OR)?|[Cc]rit(?:ical)?|CRIT(?:ICAL)?"
        r"|[Ff]atal|FATAL|[Ss]evere|SEVERE|[Ee]merg(?:ency)?|EMERG(?:ENCY)?)"
    ),
    "HTTPD_COMMONLOG": (
        r"%{IPORHOST:clientip} %{HTTPDUSER:ident} %{HTTPDUSER:auth} "
        r"\[%{HTTPDATE:timestamp}\] \"(?:%{WORD:verb} %{NOTSPACE:request}"
        r"(?: HTTP/%{NUMBER:httpversion})?|%{DATA:rawrequest})\" "
        r"(?:-|%{NUMBER:response}) (?:-|%{NUMBER:bytes})"
    ),
    "HTTPD_COMBINEDLOG": r"%{HTTPD_COMMONLOG} %{QS:referrer} %{QS:agent}",
    "COMMONAPACHELOG": r"%{HTTPD_COMMONLOG}",
    "COMBINEDAPACHELOG": r"%{HTTPD_COMBINEDLOG}",
    "HTTPD20_ERRORLOG": (
        r"\[%{HTTPDERROR_DATE:timestamp}\] \[%{LOGLEVEL:loglevel}\] "
        r"(?:\[client %{IPORHOST:clientip}\] )?%{GREEDYDATA:message}"
    ),
    "HTTPD24_ERRORLOG": (
        r"\[%{HTTPDERROR_DATE:timestamp}\] \[(?:%{WORD:module}:)?%{LOGLEVEL:loglevel}\] "
        r"\[pid %{POSINT:pid}(?::tid %{NONNEGINT:tid})?\] "
        r"(?:\[client %{IPORHOST:clientip}(?::%{POSINT:clientport})?\] )?%{GREEDYDATA:message}"
    ),
    "HTTPD_ERRORLOG": r"%{HTTPD24_ERRORLOG}",
    # ---- java / tomcat ---------------------------------------------------
    "JAVACLASS": r"(?:[A-Za-z$_][\w$]*\.)+[A-Za-z$_][\w$]*",
    "JAVAFILE": r"[\w. -]+",
    "JAVAMETHOD": r"(?:<init>|[A-Za-z$_][\w$]*)",
    "JAVATHREAD": r"[A-Z]{2}-Processor\d+",
    "JAVALOGMESSAGE": r".*",
    "JAVASTACKTRACEPART": r"%{SPACE}at %{JAVACLASS:class}\.%{JAVAMETHOD:method}\(%{JAVAFILE:file}(?::%{NUMBER:line})?\)",
    "CATALINA_DATESTAMP": r"%{MONTH} %{MONTHDAY}, 20%{YEAR} %{HOUR}:?%{MINUTE}(?::?%{SECOND}) (?:AM|PM)",
    "TOMCAT_DATESTAMP": r"20%{YEAR}-%{MONTHNUM}-%{MONTHDAY} %{HOUR}:?%{MINUTE}(?::?%{SECOND}) %{ISO8601_TIMEZONE}",
    "CATALINALOG": r"%{CATALINA_DATESTAMP:timestamp} %{JAVACLASS:class} %{JAVALOGMESSAGE:logmessage}",
    "TOMCATLOG": r"%{TOMCAT_DATESTAMP:timestamp} \| %{LOGLEVEL:level} \| %{JAVACLASS:class} - %{JAVALOGMESSAGE:logmessage}",
    # ---- haproxy ---------------------------------------------------------
    "HAPROXYTIME": r"%{HOUR}:%{MINUTE}(?::%{SECOND})?",
    "HAPROXYDATE": r"%{MONTHDAY}/%{MONTH}/%{YEAR}:%{HAPROXYTIME}\.%{INT}",
    "HAPROXYCAPTUREDREQUESTHEADERS": r"%{DATA:capturedrequestheaders}",
    "HAPROXYCAPTUREDRESPONSEHEADERS": r"%{DATA:capturedresponseheaders}",
    "HAPROXYHTTPBASE": (
        r"%{IP:clientip}:%{INT:clientport} \[%{HAPROXYDATE:acceptdate}\] "
        r"%{NOTSPACE:frontendname} %{NOTSPACE:backendname}/%{NOTSPACE:servername} "
        r"%{INT:timerequest}/%{INT:timequeue}/%{INT:timebackendconnect}/%{INT:timebackendresponse}/%{NOTSPACE:timeduration} "
        r"%{INT:httpstatuscode} %{NOTSPACE:bytesread} %{DATA:capturedrequestcookie} %{DATA:capturedresponsecookie} "
        r"%{NOTSPACE:terminationstate} %{INT:actconn}/%{INT:feconn}/%{INT:beconn}/%{INT:srvconn}/%{NOTSPACE:retries} "
        r"%{INT:srvqueue}/%{INT:backendqueue} "
        r"(?:\{%{HAPROXYCAPTUREDREQUESTHEADERS}\} )?(?:\{%{HAPROXYCAPTUREDRESPONSEHEADERS}\} )?"
        r"\"%{GREEDYDATA:httprequest}\""
    ),
    "HAPROXYHTTP": r"%{SYSLOGTIMESTAMP:syslogtimestamp} %{IPORHOST:syslogserver} %{SYSLOGPROG}: %{HAPROXYHTTPBASE}",
    # ---- aws (s3 / elb / cloudfront access logs) -------------------------
    "S3_REQUEST_LINE": r"(?:%{WORD:verb} %{NOTSPACE:request}(?: HTTP/%{NUMBER:httpversion})?|%{DATA:rawrequest})",
    "S3_ACCESS_LOG": (
        r"%{WORD:owner} %{NOTSPACE:bucket} \[%{HTTPDATE:timestamp}\] %{IP:clientip} "
        r"%{NOTSPACE:requester} %{NOTSPACE:request_id} %{NOTSPACE:operation} %{NOTSPACE:key} "
        r"(?:-|\"%{S3_REQUEST_LINE}\") (?:-|%{INT:response:int}) (?:-|%{NOTSPACE:error_code}) "
        r"(?:-|%{INT:bytes:int}) (?:-|%{INT:object_size:int}) (?:-|%{INT:request_time_ms:int}) "
        r"(?:-|%{INT:turnaround_time_ms:int}) (?:-|%{QS:referrer}) (?:-|\"?%{QS:agent}\"?) "
        r"(?:-|%{NOTSPACE:version_id})"
    ),
    "ELB_URIPATHPARAM": r"%{URIPATH:path}(?:%{URIPARAM:params})?",
    "ELB_URI": r"%{URIPROTO:proto}://(?:%{USER}(?::[^@]*)?@)?(?:%{URIHOST:urihost})?(?:%{ELB_URIPATHPARAM})?",
    "ELB_REQUEST_LINE": r"(?:%{WORD:verb} %{ELB_URI:request}(?: HTTP/%{NUMBER:httpversion})?|%{DATA:rawrequest})",
    "ELB_ACCESS_LOG": (
        r"%{TIMESTAMP_ISO8601:timestamp} %{NOTSPACE:elb} %{IP:clientip}:%{INT:clientport:int} "
        r"(?:-|%{IP:backendip}:?:%{INT:backendport:int}) "
        r"%{NUMBER:request_processing_time:float} %{NUMBER:backend_processing_time:float} "
        r"%{NUMBER:response_processing_time:float} %{INT:response:int} %{INT:backend_response:int} "
        r"%{INT:received_bytes:int} %{INT:bytes:int} \"%{ELB_REQUEST_LINE}\""
    ),
    "CLOUDFRONT_DATE": r"%{YEAR}-%{MONTHNUM}-%{MONTHDAY}\t%{TIME}",
    "CLOUDFRONT_ACCESS_LOG": (
        r"%{CLOUDFRONT_DATE:timestamp}\t%{WORD:x_edge_location}\t(?:-|%{NUMBER:sc_bytes:int})\t"
        r"%{IPORHOST:clientip}\t%{WORD:cs_method}\t%{HOSTNAME:cs_host}\t%{NOTSPACE:cs_uri_stem}\t"
        r"%{NUMBER:sc_status:int}\t%{GREEDYDATA:referrer}\t%{GREEDYDATA:agent}\t"
        r"%{GREEDYDATA:cs_uri_query}\t%{GREEDYDATA:cookies}\t%{WORD:x_edge_result_type}\t"
        r"%{NOTSPACE:x_edge_request_id}\t%{HOSTNAME:x_host_header}\t%{URIPROTO:cs_protocol}\t"
        r"%{INT:cs_bytes:int}\t%{GREEDYDATA:time_taken:float}\t%{GREEDYDATA:x_forwarded_for}\t"
        r"%{GREEDYDATA:ssl_protocol}\t%{GREEDYDATA:ssl_cipher}\t%{GREEDYDATA:x_edge_response_result_type}"
    ),
    # ---- bind9 -----------------------------------------------------------
    # NB: the bundled BIND9 aliases `query` twice (the parenthesized client
    # query and the actual query); repeated aliases resolve last-wins here
    # (same as the Go engine), so `query` carries the second occurrence.
    "BIND9_TIMESTAMP": r"%{MONTHDAY}-%{MONTH}-%{YEAR} %{TIME}",
    "BIND9": (
        r"%{BIND9_TIMESTAMP:timestamp} queries: %{LOGLEVEL:loglevel}: "
        r"client(?: @0x[0-9A-Fa-f]+)? %{IP:clientip}#%{POSINT:clientport} "
        r"\(%{GREEDYDATA:query}\): query: %{GREEDYDATA:query} IN %{GREEDYDATA:querytype} \(%{IP:dns}\)"
    ),
    # ---- mongodb ---------------------------------------------------------
    "MONGO_WORDDASH": r"\b[\w-]+\b",
    "MONGO_LOG": r"%{SYSLOGTIMESTAMP:timestamp} \[%{WORD:component}\] %{GREEDYDATA:message}",
    "MONGO_QUERY": r"\{ (?<={ ).*(?= } ntoreturn:) \}",
    "MONGO_SLOWQUERY": (
        r"%{WORD} %{MONGO_WORDDASH:database}\.%{MONGO_WORDDASH:collection} %{WORD}: "
        r"%{MONGO_QUERY:query} %{WORD}:%{NONNEGINT:ntoreturn} %{WORD}:%{NONNEGINT:ntoskip} "
        r"%{WORD}:%{NONNEGINT:nscanned}.*nreturned:%{NONNEGINT:nreturned}..+ %{NONNEGINT:duration}ms"
    ),
    "MONGO3_SEVERITY": r"\w",
    "MONGO3_COMPONENT": r"(?:%{WORD}|-)",
    "MONGO3_LOG": (
        r"%{TIMESTAMP_ISO8601:timestamp} %{MONGO3_SEVERITY:severity} "
        r"%{MONGO3_COMPONENT:component}%{SPACE}(?:\[%{DATA:context}\])? %{GREEDYDATA:message}"
    ),
    # ---- nagios (headliner subset of the bundled file) -------------------
    "NAGIOSTIME": r"\[%{NUMBER:nagios_epoch}\]",
    "NAGIOS_TYPE_CURRENT_SERVICE_STATE": r"CURRENT SERVICE STATE",
    "NAGIOS_TYPE_CURRENT_HOST_STATE": r"CURRENT HOST STATE",
    "NAGIOS_TYPE_SERVICE_NOTIFICATION": r"SERVICE NOTIFICATION",
    "NAGIOS_TYPE_HOST_NOTIFICATION": r"HOST NOTIFICATION",
    "NAGIOS_TYPE_SERVICE_ALERT": r"SERVICE ALERT",
    "NAGIOS_TYPE_HOST_ALERT": r"HOST ALERT",
    "NAGIOS_WARNING": r"Warning:%{SPACE}%{GREEDYDATA:nagios_message}",
    "NAGIOS_CURRENT_SERVICE_STATE": (
        r"%{NAGIOS_TYPE_CURRENT_SERVICE_STATE:nagios_type}: %{DATA:nagios_hostname};"
        r"%{DATA:nagios_service};%{DATA:nagios_state};%{DATA:nagios_statetype};"
        r"%{DATA:nagios_statecode};%{GREEDYDATA:nagios_message}"
    ),
    "NAGIOS_CURRENT_HOST_STATE": (
        r"%{NAGIOS_TYPE_CURRENT_HOST_STATE:nagios_type}: %{DATA:nagios_hostname};"
        r"%{DATA:nagios_state};%{DATA:nagios_statetype};%{DATA:nagios_statecode};"
        r"%{GREEDYDATA:nagios_message}"
    ),
    "NAGIOS_SERVICE_NOTIFICATION": (
        r"%{NAGIOS_TYPE_SERVICE_NOTIFICATION:nagios_type}: %{DATA:nagios_notifyname};"
        r"%{DATA:nagios_hostname};%{DATA:nagios_service};%{DATA:nagios_state};"
        r"%{DATA:nagios_contact};%{GREEDYDATA:nagios_message}"
    ),
    "NAGIOS_HOST_NOTIFICATION": (
        r"%{NAGIOS_TYPE_HOST_NOTIFICATION:nagios_type}: %{DATA:nagios_notifyname};"
        r"%{DATA:nagios_hostname};%{DATA:nagios_state};%{DATA:nagios_contact};"
        r"%{GREEDYDATA:nagios_message}"
    ),
    "NAGIOS_SERVICE_ALERT": (
        r"%{NAGIOS_TYPE_SERVICE_ALERT:nagios_type}: %{DATA:nagios_hostname};"
        r"%{DATA:nagios_service};%{DATA:nagios_state};%{DATA:nagios_statelevel};"
        r"%{NUMBER:nagios_attempt};%{GREEDYDATA:nagios_message}"
    ),
    "NAGIOS_HOST_ALERT": (
        r"%{NAGIOS_TYPE_HOST_ALERT:nagios_type}: %{DATA:nagios_hostname};"
        r"%{DATA:nagios_state};%{DATA:nagios_statelevel};%{NUMBER:nagios_attempt};"
        r"%{GREEDYDATA:nagios_message}"
    ),
    "NAGIOSLOGLINE": (
        r"%{NAGIOSTIME} (?:%{NAGIOS_WARNING}|%{NAGIOS_CURRENT_SERVICE_STATE}"
        r"|%{NAGIOS_CURRENT_HOST_STATE}|%{NAGIOS_SERVICE_NOTIFICATION}"
        r"|%{NAGIOS_HOST_NOTIFICATION}|%{NAGIOS_SERVICE_ALERT}|%{NAGIOS_HOST_ALERT})"
    ),
    # ---- postgresql ------------------------------------------------------
    "POSTGRESQL": r"%{DATESTAMP:timestamp} %{TZ} %{DATA:user_id} %{GREEDYDATA:connection_id} %{POSINT:pid}",
    # ---- rails -----------------------------------------------------------
    # RUUID: the bundled \h{32} (Onigmo hex class) spelled portably;
    # RCONTROLLER's inline captures become aliased helper refs (the engine
    # surfaces fields only through %{NAME:alias}).
    "RUUID": r"[0-9A-Fa-f]{32}",
    "RCONTROLLERNAME": r"[^#]+",
    "RCONTROLLER": r"%{RCONTROLLERNAME:controller}#%{WORD:action}",
    "RAILS_TIMESTAMP": r"%{YEAR}-%{MONTHNUM}-%{MONTHDAY} %{HOUR}:%{MINUTE}:%{SECOND} %{ISO8601_TIMEZONE}",
    "RAILS3HEAD": (
        r"Started %{WORD:verb} \"%{URIPATHPARAM:request}\" for %{IPORHOST:clientip} at "
        r"%{RAILS_TIMESTAMP:timestamp}"
    ),
    "RPROCESSING": (
        r"\W*Processing by %{RCONTROLLER} as %{NOTSPACE:format}"
        r"(?:\W*Parameters: \{%{DATA:params}\}\W*)?"
    ),
    "RAILS3PROFILE": r"(?:\(Views: %{NUMBER:viewms}ms \| ActiveRecord: %{NUMBER:activerecordms}ms|\(ActiveRecord: %{NUMBER:activerecordms}ms)?",
    "RAILS3FOOT": r"Completed %{NUMBER:response}%{DATA} in %{NUMBER:totalms}ms %{RAILS3PROFILE}%{GREEDYDATA}",
    "RAILS3CONTEXT": r"(?:%{DATA}\n)*",
    "RAILS3": r"%{RAILS3HEAD}(?:%{RPROCESSING})?%{RAILS3CONTEXT:context}(?:%{RAILS3FOOT})?",
    # ---- redis -----------------------------------------------------------
    "REDISTIMESTAMP": r"%{MONTHDAY} %{MONTH} %{TIME}",
    "REDISLOG": r"\[%{POSINT:pid}\] %{REDISTIMESTAMP:timestamp} \* ",
    "REDISMONLOG": r"%{NUMBER:timestamp} \[%{INT:database} %{IP:client}:%{NUMBER:port}\] \"%{WORD:command}\"\s?%{GREEDYDATA:params}",
    # ---- squid -----------------------------------------------------------
    "SQUID3": (
        r"%{NUMBER:timestamp}\s+%{NUMBER:duration}\s%{IP:client_address}\s"
        r"%{WORD:cache_result}/%{NONNEGINT:status_code}\s%{NUMBER:bytes}\s"
        r"%{WORD:request_method}\s%{NOTSPACE:url}\s(?:-|%{NOTSPACE:user})\s"
        r"%{WORD:hierarchy_code}/(?:-|%{IPORHOST:server})\s%{NOTSPACE:content_type}"
    ),
    # ---- firewall (netscreen + cisco asa headliners) ---------------------
    "NETSCREENSESSIONLOG": (
        r"%{SYSLOGTIMESTAMP:date} %{IPORHOST:device} %{IPORHOST}: NetScreen "
        r"device_id=%{WORD:device_id}%{DATA}: start_time=%{QUOTEDSTRING:start_time} "
        r"duration=%{INT:duration} policy_id=%{INT:policy_id} service=%{DATA:service} "
        r"proto=%{INT:proto} src zone=%{WORD:src_zone} dst zone=%{WORD:dst_zone} "
        r"action=%{WORD:action} sent=%{INT:sent} rcvd=%{INT:rcvd} "
        r"src=%{IPORHOST:src_ip} dst=%{IPORHOST:dst_ip} src_port=%{INT:src_port} "
        r"dst_port=%{INT:dst_port} src-xlated ip=%{IPORHOST:src_xlated_ip} "
        r"port=%{INT:src_xlated_port} dst-xlated ip=%{IPORHOST:dst_xlated_ip} "
        r"port=%{INT:dst_xlated_port} session_id=%{INT:session_id} reason=%{GREEDYDATA:reason}"
    ),
    "CISCOTIMESTAMP": r"%{MONTH} +%{MONTHDAY}(?: %{YEAR})? %{TIME}",
    "CISCOTAG": r"[A-Z0-9]+-%{INT}-[A-Z0-9_]+",
    "CISCO_TAGGED_SYSLOG": r"^<%{POSINT:syslog_pri}>%{CISCOTIMESTAMP:timestamp}(?: %{SYSLOGHOST:sysloghost})? ?: %%{CISCOTAG:ciscotag}:",
    "CISCO_ACTION": r"(?:Built|Teardown|Deny|Denied|denied by ACL|denied|requested|permitted|discarded|est-allowed|Dropping|created|deleted)",
    "CISCO_REASON": r"(?:Duplicate TCP SYN|Failed to locate egress interface|Invalid transport field|No matching connection|DNS Response|DNS Query|%{WORD}(?: %{WORD})*)",
    "CISCO_DIRECTION": r"(?:Inbound|inbound|Outbound|outbound)",
    "CISCO_INTERVAL": r"(?:first hit|%{INT}-second interval)",
    "CISCO_XLATE_TYPE": r"(?:static|dynamic)",
    "CISCOFW106001": (
        r"%{CISCO_DIRECTION:direction} %{WORD:protocol} connection %{CISCO_ACTION:action} "
        r"from %{IP:src_ip}/%{INT:src_port} to %{IP:dst_ip}/%{INT:dst_port} "
        r"flags %{GREEDYDATA:tcp_flags} on interface %{GREEDYDATA:interface}"
    ),
    "CISCOFW106014": (
        r"%{CISCO_ACTION:action} %{CISCO_DIRECTION:direction} %{WORD:protocol} "
        r"src %{DATA:src_interface}:%{IP:src_ip}(?:\(%{DATA:src_fwuser}\))? "
        r"dst %{DATA:dst_interface}:%{IP:dst_ip}(?:\(%{DATA:dst_fwuser}\))? "
        r"\(type %{INT:icmp_type}, code %{INT:icmp_code}\)"
    ),
    "CISCOFW106023": (
        r"%{CISCO_ACTION:action}(?: protocol)? %{WORD:protocol} "
        r"src %{DATA:src_interface}:%{DATA:src_ip}(?:/%{INT:src_port})?(?:\(%{DATA:src_fwuser}\))? "
        r"dst %{DATA:dst_interface}:%{DATA:dst_ip}(?:/%{INT:dst_port})?(?:\(%{DATA:dst_fwuser}\))?"
        r"(?: \(type %{INT:icmp_type}, code %{INT:icmp_code}\))? "
        r"by access-group \"?%{DATA:policy_id}\"? \[%{DATA:hashcode1}, %{DATA:hashcode2}\]"
    ),
    "CISCOFW106100": (
        r"access-list %{NOTSPACE:policy_id} %{CISCO_ACTION:action} %{WORD:protocol} "
        r"%{DATA:src_interface}/%{IP:src_ip}\(%{INT:src_port}\)(?:\(%{DATA:src_fwuser}\))? -> "
        r"%{DATA:dst_interface}/%{IP:dst_ip}\(%{INT:dst_port}\)(?:\(%{DATA:src_fwuser}\))? "
        r"hit-cnt %{INT:hit_count} %{CISCO_INTERVAL:interval} \[%{DATA:hashcode1}, %{DATA:hashcode2}\]"
    ),
    "CISCOFW302013_302014_302015_302016": (
        r"%{CISCO_ACTION:action}(?: %{CISCO_DIRECTION:direction})? %{WORD:protocol} connection "
        r"%{INT:connection_id} for %{DATA:src_interface}:%{IP:src_ip}/%{INT:src_port}"
        r"(?: \(%{IP:src_mapped_ip}/%{INT:src_mapped_port}\))?(?:\(%{DATA:src_fwuser}\))? "
        r"to %{DATA:dst_interface}:%{IP:dst_ip}/%{INT:dst_port}"
        r"(?: \(%{IP:dst_mapped_ip}/%{INT:dst_mapped_port}\))?(?:\(%{DATA:dst_fwuser}\))?"
        r"(?: duration %{TIME:duration} bytes %{INT:bytes})?(?: %{CISCO_REASON:reason})?"
        r"(?: \(%{DATA:user}\))?"
    ),
    "CISCOFW304001": r"%{IP:src_ip}(?:\(%{DATA:src_fwuser}\))? Accessed URL %{IP:dst_ip}:%{GREEDYDATA:dst_url}",
    # ---- junos (rt_flow) -------------------------------------------------
    "RT_FLOW_EVENT": r"(?:RT_FLOW_SESSION_CREATE|RT_FLOW_SESSION_CLOSE|RT_FLOW_SESSION_DENY)",
    "RT_FLOW1": (
        r"%{RT_FLOW_EVENT:event}: %{GREEDYDATA:close-reason}: "
        r"%{IP:src-ip}/%{INT:src-port}->%{IP:dst-ip}/%{INT:dst-port} %{DATA:service} "
        r"%{IP:nat-src-ip}/%{INT:nat-src-port}->%{IP:nat-dst-ip}/%{INT:nat-dst-port} "
        r"%{DATA:src-nat-rule-name} %{DATA:dst-nat-rule-name} %{INT:protocol-id} "
        r"%{DATA:policy-name} %{DATA:from-zone} %{DATA:to-zone} %{INT:session-id} "
        r"\d+\(%{DATA:sent}\) \d+\(%{DATA:received}\) %{INT:elapsed-time} .*"
    ),
    "RT_FLOW2": (
        r"%{RT_FLOW_EVENT:event}: session created "
        r"%{IP:src-ip}/%{INT:src-port}->%{IP:dst-ip}/%{INT:dst-port} %{DATA:service} "
        r"%{IP:nat-src-ip}/%{INT:nat-src-port}->%{IP:nat-dst-ip}/%{INT:nat-dst-port} "
        r"%{DATA:src-nat-rule-name} %{DATA:dst-nat-rule-name} %{INT:protocol-id} "
        r"%{DATA:policy-name} %{DATA:from-zone} %{DATA:to-zone} %{INT:session-id} .*"
    ),
    "RT_FLOW3": (
        r"%{RT_FLOW_EVENT:event}: session denied "
        r"%{IP:src-ip}/%{INT:src-port}->%{IP:dst-ip}/%{INT:dst-port} %{DATA:service} "
        r"%{INT:protocol-id}\(\d\) %{DATA:policy-name} %{DATA:from-zone} %{DATA:to-zone} .*"
    ),
    # ---- exim ------------------------------------------------------------
    "EXIM_MSGID": r"[0-9A-Za-z]{6}-[0-9A-Za-z]{6}-[0-9A-Za-z]{2}",
    "EXIM_FLAGS": r"(?:<=|[-=>*]>|[*]{2}|==)",
    "EXIM_DATE": r"%{YEAR:exim_year}-%{MONTHNUM:exim_month}-%{MONTHDAY:exim_day} %{TIME:exim_time}",
    "EXIM_PID": r"\[%{POSINT}\]",
    "EXIM_QT": r"(?:(?:\d+y)?(?:\d+w)?(?:\d+d)?(?:\d+h)?(?:\d+m)?(?:\d+s)?)",
    "EXIM_EXCLUDE_TERMS": (
        r"(?:Message is frozen|(?:Start|End) queue run| Warning: | retry time not reached "
        r"| no (?:IP address|host name) found for (?:IP address|host) "
        r"| unexpected disconnection while reading SMTP command "
        r"| no immediate delivery: |another process is handling this message)"
    ),
    # ---- bro (zeek tsv logs) ---------------------------------------------
    "BRO_HTTP": (
        r"%{NUMBER:ts}\t%{NOTSPACE:uid}\t%{IP:orig_h}\t%{INT:orig_p}\t%{IP:resp_h}\t%{INT:resp_p}\t"
        r"%{INT:trans_depth}\t%{GREEDYDATA:method}\t%{GREEDYDATA:domain}\t%{GREEDYDATA:uri}\t"
        r"%{GREEDYDATA:referrer}\t%{GREEDYDATA:user_agent}\t%{NUMBER:request_body_len}\t"
        r"%{NUMBER:response_body_len}\t%{GREEDYDATA:status_code}\t%{GREEDYDATA:status_msg}\t"
        r"%{GREEDYDATA:info_code}\t%{GREEDYDATA:info_msg}\t%{GREEDYDATA:filename}\t"
        r"%{GREEDYDATA:bro_tags}\t%{GREEDYDATA:username}\t%{GREEDYDATA:password}\t"
        r"%{GREEDYDATA:proxied}\t%{GREEDYDATA:orig_fuids}\t%{GREEDYDATA:orig_mime_types}\t"
        r"%{GREEDYDATA:resp_fuids}\t%{GREEDYDATA:resp_mime_types}"
    ),
    "BRO_DNS": (
        r"%{NUMBER:ts}\t%{NOTSPACE:uid}\t%{IP:orig_h}\t%{INT:orig_p}\t%{IP:resp_h}\t%{INT:resp_p}\t"
        r"%{WORD:proto}\t%{INT:trans_id}\t%{GREEDYDATA:query}\t%{GREEDYDATA:qclass}\t"
        r"%{GREEDYDATA:qclass_name}\t%{GREEDYDATA:qtype}\t%{GREEDYDATA:qtype_name}\t"
        r"%{GREEDYDATA:rcode}\t%{GREEDYDATA:rcode_name}\t%{GREEDYDATA:AA}\t%{GREEDYDATA:TC}\t"
        r"%{GREEDYDATA:RD}\t%{GREEDYDATA:RA}\t%{GREEDYDATA:Z}\t%{GREEDYDATA:answers}\t"
        r"%{GREEDYDATA:TTLs}\t%{GREEDYDATA:rejected}"
    ),
    "BRO_CONN": (
        r"%{NUMBER:ts}\t%{NOTSPACE:uid}\t%{IP:orig_h}\t%{INT:orig_p}\t%{IP:resp_h}\t%{INT:resp_p}\t"
        r"%{WORD:proto}\t%{GREEDYDATA:service}\t%{NUMBER:duration}\t%{NUMBER:orig_bytes}\t"
        r"%{NUMBER:resp_bytes}\t%{GREEDYDATA:conn_state}\t%{GREEDYDATA:local_orig}\t"
        r"%{GREEDYDATA:missed_bytes}\t%{GREEDYDATA:history}\t%{GREEDYDATA:orig_pkts}\t"
        r"%{GREEDYDATA:orig_ip_bytes}\t%{GREEDYDATA:resp_pkts}\t%{GREEDYDATA:resp_ip_bytes}\t"
        r"%{GREEDYDATA:tunnel_parents}"
    ),
    # ---- ruby ------------------------------------------------------------
    "RUBY_LOGLEVEL": r"(?:DEBUG|FATAL|ERROR|WARN|INFO)",
    "RUBY_LOGGER": (
        r"[DFEWI], \[%{TIMESTAMP_ISO8601:timestamp} #%{POSINT:pid}\] *"
        r"%{RUBY_LOGLEVEL:loglevel} -- +%{DATA:progname}: %{GREEDYDATA:message}"
    ),
    # ---- bacula (headliners) ---------------------------------------------
    "BACULA_TIMESTAMP": r"%{MONTHDAY}-%{MONTH} %{HOUR}:%{MINUTE}",
    "BACULA_HOST": r"[A-Za-z0-9-]+",
    "BACULA_VOLUME": r"%{USER}",
    "BACULA_LOG_NEW_VOLUME": r"Created new Volume \"%{BACULA_VOLUME:volume}\" in catalog.",
    "BACULA_LOG_JOBEND": r"Job write elapsed time = %{DATA:elapsed}, Transfer rate = %{NUMBER} (?:K|M|G)? Bytes/second",
}
