package fineventstream.localfs;

import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsAction;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * A local file system that sets permissions with one chmod(2) call.
 *
 * <p>Without the native Hadoop library, {@link RawLocalFileSystem#setPermission}
 * forks a {@code chmod} process, and every {@code create} and {@code mkdirs}
 * calls it. NIO sets the same bits without a process. The sticky bit has no
 * NIO form, and a disk without POSIX attributes has no NIO call; both keep
 * the parent's path.
 */
public class NioRawLocalFileSystem extends RawLocalFileSystem {

  @Override
  public void setPermission(Path p, FsPermission permission) throws IOException {
    if (permission.getStickyBit()) {
      super.setPermission(p, permission);
      return;
    }
    Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
    add(perms, permission.getUserAction(), PosixFilePermission.OWNER_READ,
        PosixFilePermission.OWNER_WRITE, PosixFilePermission.OWNER_EXECUTE);
    add(perms, permission.getGroupAction(), PosixFilePermission.GROUP_READ,
        PosixFilePermission.GROUP_WRITE, PosixFilePermission.GROUP_EXECUTE);
    add(perms, permission.getOtherAction(), PosixFilePermission.OTHERS_READ,
        PosixFilePermission.OTHERS_WRITE, PosixFilePermission.OTHERS_EXECUTE);
    try {
      Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
    } catch (UnsupportedOperationException e) {
      super.setPermission(p, permission);
    }
  }

  private static void add(Set<PosixFilePermission> perms, FsAction action,
      PosixFilePermission read, PosixFilePermission write,
      PosixFilePermission execute) {
    if (action.implies(FsAction.READ)) {
      perms.add(read);
    }
    if (action.implies(FsAction.WRITE)) {
      perms.add(write);
    }
    if (action.implies(FsAction.EXECUTE)) {
      perms.add(execute);
    }
  }
}
