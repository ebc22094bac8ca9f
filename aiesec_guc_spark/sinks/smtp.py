"""SMTP transport for the guarded notification sink (reference S7,
aiesec.py:236-251).

The reference builds a MIME multipart message and ships it through
``smtplib.SMTP_SSL("smtp.gmail.com", 465)`` — TLS from the first byte
— with a hardcoded app password (aiesec.py:245-247).  This twin keeps
the executable protocol path — a real ``smtplib`` client speaking
RFC 5321 to a configurable host/port, with SSL-on-connect, STARTTLS,
and plain modes — but takes credentials from the environment (the
reference's committed password is a leaked secret, not a feature) and
leaves security optional so hermetic tests can run against a loopback
server (the SSL mode is loopback-tested too, against a self-signed
certificate).

Driver-side by design: the send happens once per run with an
already-reduced body (the delta is small by construction); nothing
here touches executors.

Usage with the guarded sink::

    transport = SMTPTransport(host, port, sender, recipients, subject)
    notify_if_nonempty(render_email_html(delta_pdf), send=transport)
"""

from __future__ import annotations

import os
import smtplib
from dataclasses import dataclass, field
from email.mime.multipart import MIMEMultipart
from email.mime.text import MIMEText

#: Env var names for credentials — never hardcoded (see module doc).
SMTP_USER_ENV = "SPARK_GRAFT_SMTP_USER"
SMTP_PASSWORD_ENV = "SPARK_GRAFT_SMTP_PASSWORD"


def build_message(
    sender: str, recipients: list[str], subject: str, html_body: str
) -> MIMEMultipart:
    """The reference's MIME shape (aiesec.py:239-244): multipart
    container, text/html part, From/To/Subject headers."""
    msg = MIMEMultipart("alternative")
    msg["From"] = sender
    msg["To"] = ", ".join(recipients)
    msg["Subject"] = subject
    msg.attach(MIMEText(html_body, "html"))
    return msg


#: Transport security modes.  "starttls" upgrades a plain session
#: before auth (Gmail:587); "ssl" is TLS from the first byte — the
#: reference's actual transport, ``smtplib.SMTP_SSL("smtp.gmail.com",
#: 465)`` (aiesec.py:245-247); "none" keeps hermetic loopback tests
#: runnable without certificates.
SECURITY_MODES = ("none", "starttls", "ssl")


@dataclass
class SMTPTransport:
    """Callable transport: ``transport(html_body)`` sends one message.

    ``security`` picks the protocol: SSL-on-connect (the reference's
    465 path), STARTTLS (587 path), or plain; login happens only when
    a user is present in the environment, so anonymous loopback
    servers work unchanged.  ``ssl_context`` lets tests pin a
    self-signed loopback certificate.
    """

    host: str
    port: int
    sender: str
    recipients: list[str]
    subject: str = "New Opportunities"
    security: str = "none"
    timeout: float = 30.0
    ssl_context: object | None = field(default=None, repr=False)
    #: Injection seam for tests/doubles; None = derived from
    #: ``security`` (smtplib.SMTP or smtplib.SMTP_SSL).
    smtp_factory: type | None = field(default=None, repr=False)

    def _mode(self) -> str:
        if self.security not in SECURITY_MODES:
            raise ValueError(
                f"security must be one of {SECURITY_MODES}, got {self.security!r}"
            )
        return self.security

    def __call__(self, html_body: str) -> None:
        mode = self._mode()
        msg = build_message(self.sender, self.recipients, self.subject, html_body)
        user = os.environ.get(SMTP_USER_ENV)
        password = os.environ.get(SMTP_PASSWORD_ENV)
        kwargs: dict = {"timeout": self.timeout}
        # In "ssl" mode the context applies whichever factory builds
        # the connection — dropping it for an injected factory would
        # silently fall back to the default SSL context (failing a
        # pinned loopback cert, or validating against the system
        # store when the caller pinned one on purpose).
        if mode == "ssl" and self.ssl_context is not None:
            kwargs["context"] = self.ssl_context
        if self.smtp_factory is not None:
            factory = self.smtp_factory
        elif mode == "ssl":
            factory = smtplib.SMTP_SSL
        else:
            factory = smtplib.SMTP
        with factory(self.host, self.port, **kwargs) as conn:
            if mode == "starttls":
                if self.ssl_context is not None:
                    conn.starttls(context=self.ssl_context)
                else:
                    conn.starttls()
            if user and password:
                conn.login(user, password)
            conn.sendmail(self.sender, self.recipients, msg.as_string())
